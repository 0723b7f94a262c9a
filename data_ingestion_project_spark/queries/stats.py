"""Hypothesis-testing and model-fit censuses — distributed classical
statistics as single-pass aggregations.

The reference (a 418-line pandas ETL; SURVEY.md §2 marks ALL analytics
absent) has no statistical surface; these queries add the inference
primitives a 100 TB data-quality pipeline runs routinely: independence
tests between categorical facets (is event mix stable across days of
the week?), distribution-drift tests between corpus slices (did the
length distribution shift between sources?), variance decomposition
(does event value actually differ by type?), and closed-form model
fits (the ``REGR_*`` aggregate family).

Scale posture shared by every query here: each statistic is a function
of a FIXED, tiny set of sufficient statistics (cell counts, group
moments) produced by ONE partial-aggregation shuffle over the fact
table; all test arithmetic then runs on frames whose cardinality is
the number of groups/cells — a data-domain constant, not the corpus
size.  No global windows over base-table-derived frames (the KS
cumulative distribution uses the repo's two-level bucket-prefix
cumsum, the same posture as ``acctbal_deciles_scalable``).

Oracle-exactness follows the house rules (queries/_precision.py):
counts and micro-quantized sums accumulate in exact integer domain;
every double expression downstream of those integers is written
operation-for-operation identically in Spark and DuckDB so IEEE
arithmetic produces bit-equal results; transcendentals (ln) are
quantized to integers immediately (the ``bigram_logprob_buckets``
idiom) so a last-ulp libm difference cannot propagate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.materialize import pin
from data_ingestion_project_spark.queries._precision import floor_round as _floor_round
from data_ingestion_project_spark.queries._precision import to_micro
from data_ingestion_project_spark.sources.readers import table

_M = 1_000_000  # micro-unit quantization for derived double statistics
_DEC38 = "decimal(38,0)"  # exact wide-integer fold (4th-moment headroom)
_DEC = "decimal(28,0)"


def _micro(col):
    """trunc(x * 1e6) as int64 — engine-mirrorable quantization of a
    value-determined double expression."""
    return (col * F.lit(float(_M))).cast("long")




# --------------------------------------------------------------- chi²


def chisq_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence: event_type × ISO
    day-of-week.  The workhorse drift monitor for categorical facets
    (is Saturday's event mix the same as Tuesday's?).

    Plan: ONE partial-agg shuffle builds the contingency table (≤
    |types|×7 cells); row totals, column totals, grand total, expected
    counts, per-cell contributions, the global statistic and its
    degrees of freedom are all derived from that tiny frame via
    broadcast joins — the fact table is scanned exactly once, and
    nothing downstream grows with the corpus.

    Exactness: expected = R·C/N is one double division of exact
    BIGINTs (identical IEEE result both engines); the cell
    contribution (O−E)²/E is micro-truncated to int64 per cell and the
    global χ² is the EXACT integer sum of those cells — no
    order-dependent double accumulation anywhere.
    """
    e = table(spark, sf_dir, "events")
    # the ONE fact-table pass, pinned so the five derived totals below
    # read the ≤|types|×7-cell frame instead of each re-scanning events
    # (column pruning makes the branches' agg subtrees differ,
    # defeating exchange reuse)
    cells = pin(
        e.groupBy(
            "event_type",
            (F.expr("weekday(ts)") + F.lit(1)).alias("dow"),  # ISO: 1=Mon
        )
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    row_tot = cells.groupBy("event_type").agg(F.sum("observed").alias("row_total"))
    col_tot = cells.groupBy("dow").agg(F.sum("observed").alias("col_total"))
    totals = cells.agg(
        F.sum("observed").alias("n_total"),
        ((F.count_distinct("event_type") - 1) * (F.count_distinct("dow") - 1)).alias(
            "dof"
        ),
    )
    j = (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "dow")
        .crossJoin(F.broadcast(totals))
    )
    # each factor cast to double BEFORE the product: at 100 TB row/col
    # totals reach ~1e12, whose int64 product wraps silently in Spark
    # while DuckDB's HUGEINT would not — cast-first keeps both engines
    # in the same (exact ≤ 2^53) double domain.
    exp_d = (
        F.col("row_total").cast("double") * F.col("col_total").cast("double")
    ) / F.col("n_total")
    diff = F.col("observed").cast("double") - exp_d
    k = j.select(
        "event_type",
        "dow",
        "observed",
        "dof",
        _micro(exp_d).alias("exp_i"),
        _micro(diff * diff / exp_d).alias("cell_i"),
    )
    tot = k.agg(F.sum("cell_i").alias("tot_i"))
    return (
        k.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            "observed",
            (F.col("exp_i").cast("double") / F.lit(float(_M))).alias("expected"),
            (F.col("cell_i").cast("double") / F.lit(float(_M))).alias("cell_chi2"),
            (F.col("tot_i").cast("double") / F.lit(float(_M))).alias("chi2"),
            F.col("dof").cast("long").alias("dof"),
        )
        .orderBy("event_type", "dow")
    )


ORACLE_CHISQ_EVENT_DOW = """
WITH cells AS (
  SELECT event_type, CAST(date_part('isodow', ts) AS INT) AS dow,
         COUNT(*) AS observed
  FROM events GROUP BY 1, 2
), rt AS (SELECT event_type, SUM(observed) AS row_total FROM cells GROUP BY 1),
ct AS (SELECT dow, SUM(observed) AS col_total FROM cells GROUP BY 1),
nt AS (
  SELECT SUM(observed) AS n_total,
         (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS dof
  FROM cells
), j AS (
  SELECT c.event_type, c.dow, c.observed, nt.dof,
         CAST(rt.row_total AS DOUBLE) * CAST(ct.col_total AS DOUBLE)
           / nt.n_total AS exp_d
  FROM cells c
  JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN nt
), k AS (
  SELECT event_type, dow, observed, dof,
         CAST(trunc(exp_d * 1000000) AS BIGINT) AS exp_i,
         CAST(trunc(((CAST(observed AS DOUBLE) - exp_d)
                     * (CAST(observed AS DOUBLE) - exp_d) / exp_d) * 1000000)
              AS BIGINT) AS cell_i
  FROM j
), tot AS (SELECT SUM(cell_i) AS tot_i FROM k)
SELECT event_type, dow, observed,
       CAST(exp_i AS DOUBLE) / 1000000.0 AS expected,
       CAST(cell_i AS DOUBLE) / 1000000.0 AS cell_chi2,
       CAST(tot_i AS DOUBLE) / 1000000.0 AS chi2,
       CAST(dof AS BIGINT) AS dof
FROM k CROSS JOIN tot
ORDER BY event_type, dow
"""


# -------------------------------------------------------------- ANOVA


def anova_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value by event_type: per-group moments,
    the between/within variance decomposition, and the F statistic.

    Plan: one partial-agg shuffle produces (n, Σx, Σx²) per group in
    EXACT integer micro-units; everything else — grand totals, sums of
    squares, F — is arithmetic over the ≤|types|-row moment frame.
    The only cross-group double sum (Σ_g (Σx_g)²/n_g) is quantized per
    group to centi-units and summed as integers, so the decomposition
    is order-independent.
    """
    e = table(spark, sf_dir, "events")
    # one fact pass → |types|-row moment frame, materialized so the
    # grand-total branch reads it instead of re-scanning events
    g = pin(
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(to_micro(F.col("value")).cast(_DEC)).alias("sx_i"),
            F.sum(_micro(F.col("value") * F.col("value")).cast(_DEC)).alias("sxx_i"),
        )
    )
    sx_d = F.col("sx_i").cast("double") / F.lit(float(_M))
    sxx_d = F.col("sxx_i").cast("double") / F.lit(float(_M))
    # per-group term (Σx)²/n quantized to centi-units (coarse enough to
    # keep the int64 range at sf0.1 ×100 headroom)
    g2 = g.select(
        "event_type",
        "n",
        "sx_i",
        "sxx_i",
        ((sx_d * sx_d / F.col("n")) * F.lit(100.0)).cast("long").alias("ssq_c"),
        _micro(sx_d / F.col("n")).alias("mean_i"),
        _micro(
            (sxx_d - sx_d * sx_d / F.col("n"))
            / (F.col("n") - F.lit(1))
        ).alias("var_i"),
    )
    tot = g2.agg(
        F.sum("n").alias("n_tot"),
        F.sum(F.col("sx_i").cast(_DEC)).alias("sx_tot"),
        F.sum(F.col("sxx_i").cast(_DEC)).alias("sxx_tot"),
        F.sum("ssq_c").alias("ssq_c_tot"),
        F.count(F.lit(1)).alias("k_groups"),
    )
    sx_t = F.col("sx_tot").cast("double") / F.lit(float(_M))
    sxx_t = F.col("sxx_tot").cast("double") / F.lit(float(_M))
    ssq_t = F.col("ssq_c_tot").cast("double") / F.lit(100.0)
    ssb = ssq_t - sx_t * sx_t / F.col("n_tot")
    ssw = sxx_t - ssq_t
    fstat = (ssb / (F.col("k_groups") - F.lit(1))) / (
        ssw / (F.col("n_tot") - F.col("k_groups"))
    )
    t2 = tot.select(
        _micro(ssb).alias("ssb_i"),
        _micro(ssw).alias("ssw_i"),
        _micro(fstat).alias("f_i"),
        (F.col("k_groups") - F.lit(1)).cast("long").alias("df_between"),
        (F.col("n_tot") - F.col("k_groups")).cast("long").alias("df_within"),
    )
    return (
        g2.crossJoin(F.broadcast(t2))
        .select(
            "event_type",
            "n",
            (F.col("mean_i").cast("double") / F.lit(float(_M))).alias("mean_value"),
            (F.col("var_i").cast("double") / F.lit(float(_M))).alias("var_value"),
            (F.col("ssb_i").cast("double") / F.lit(float(_M))).alias("ss_between"),
            (F.col("ssw_i").cast("double") / F.lit(float(_M))).alias("ss_within"),
            (F.col("f_i").cast("double") / F.lit(float(_M))).alias("f_stat"),
            "df_between",
            "df_within",
        )
        .orderBy("event_type")
    )


ORACLE_ANOVA_EVENT_VALUES = """
WITH g AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(trunc(value * 1000000) AS BIGINT)) AS sx_i,
         SUM(CAST(trunc((value * value) * 1000000) AS BIGINT)) AS sxx_i
  FROM events GROUP BY event_type
), g2 AS (
  SELECT event_type, n, sx_i, sxx_i,
         CAST(trunc(((CAST(sx_i AS DOUBLE) / 1000000.0)
                     * (CAST(sx_i AS DOUBLE) / 1000000.0) / n) * 100) AS BIGINT)
           AS ssq_c,
         CAST(trunc(((CAST(sx_i AS DOUBLE) / 1000000.0) / n) * 1000000) AS BIGINT)
           AS mean_i,
         CAST(trunc((((CAST(sxx_i AS DOUBLE) / 1000000.0)
                      - (CAST(sx_i AS DOUBLE) / 1000000.0)
                        * (CAST(sx_i AS DOUBLE) / 1000000.0) / n)
                     / (n - 1)) * 1000000) AS BIGINT) AS var_i
  FROM g
), tot AS (
  SELECT SUM(n) AS n_tot, SUM(sx_i) AS sx_tot, SUM(sxx_i) AS sxx_tot,
         SUM(ssq_c) AS ssq_c_tot, COUNT(*) AS k_groups
  FROM g2
), t2 AS (
  SELECT
    CAST(trunc(((CAST(ssq_c_tot AS DOUBLE) / 100.0)
                - (CAST(sx_tot AS DOUBLE) / 1000000.0)
                  * (CAST(sx_tot AS DOUBLE) / 1000000.0) / n_tot) * 1000000)
         AS BIGINT) AS ssb_i,
    CAST(trunc(((CAST(sxx_tot AS DOUBLE) / 1000000.0)
                - (CAST(ssq_c_tot AS DOUBLE) / 100.0)) * 1000000)
         AS BIGINT) AS ssw_i,
    CAST(trunc(((((CAST(ssq_c_tot AS DOUBLE) / 100.0)
                  - (CAST(sx_tot AS DOUBLE) / 1000000.0)
                    * (CAST(sx_tot AS DOUBLE) / 1000000.0) / n_tot)
                 / (k_groups - 1))
                / (((CAST(sxx_tot AS DOUBLE) / 1000000.0)
                    - (CAST(ssq_c_tot AS DOUBLE) / 100.0))
                   / (n_tot - k_groups))) * 1000000) AS BIGINT) AS f_i,
    CAST(k_groups - 1 AS BIGINT) AS df_between,
    CAST(n_tot - k_groups AS BIGINT) AS df_within
  FROM tot
)
SELECT event_type, n,
       CAST(mean_i AS DOUBLE) / 1000000.0 AS mean_value,
       CAST(var_i AS DOUBLE) / 1000000.0 AS var_value,
       CAST(ssb_i AS DOUBLE) / 1000000.0 AS ss_between,
       CAST(ssw_i AS DOUBLE) / 1000000.0 AS ss_within,
       CAST(f_i AS DOUBLE) / 1000000.0 AS f_stat,
       df_between, df_within
FROM g2 CROSS JOIN t2
ORDER BY event_type
"""


# ------------------------------------------------- two-sample KS drift


_KS_BUCKET = 64  # coarse bucket width for the two-level cumsum


def ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: does the document-length
    distribution differ between English and non-English slices?  The
    distribution-drift primitive behind corpus-mix monitoring (the
    categorical χ² above cannot see a shift WITHIN a numeric column).

    D = max over distinct lengths v of |F_en(v) − F_other(v)|, computed
    EXACTLY — no sampling, no sketch.

    Plan: one shuffle aggregates per-distinct-length counts for both
    slices simultaneously (conditional sums — the fact table is
    scanned ONCE, not once per slice).  The two ECDFs need a global
    cumulative sum over the distinct-length frame; a naive
    ``Window.orderBy`` would funnel that frame through one partition,
    so this uses the repo's two-level decomposition
    (``acctbal_deciles_scalable`` posture): per-value cumsum WITHIN
    length-buckets (window partitioned by bucket — parallel), plus an
    exclusive prefix over the ~|lengths|/64-row bucket-partials frame
    (the only single-partition step, dimension-sized: bounded by
    max-document-length/64, a data-domain constant, not corpus size).

    Exactness: cumulative counts are exact integers; F-ratios and the
    α=0.05 critical value c(α)·√((n+m)/nm) are value-determined double
    expressions micro-quantized before the max/compare.
    """
    d = table(spark, sf_dir, "documents")
    # distinct-length-sized frame, materialized once: the bucket
    # partials, prefix, per-value cumsum, and totals all branch from it
    # without re-scanning documents
    per = pin(
        d.groupBy("n_chars")
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_en"),
            F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("c_ot"),
        )
        .withColumn("bkt", F.floor(F.col("n_chars") / F.lit(_KS_BUCKET)))
    )
    bp = per.groupBy("bkt").agg(
        F.sum("c_en").alias("b_en"), F.sum("c_ot").alias("b_ot")
    )
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bp.select(
        "bkt",
        F.coalesce(F.sum("b_en").over(wb), F.lit(0)).alias("p_en"),
        F.coalesce(F.sum("b_ot").over(wb), F.lit(0)).alias("p_ot"),
    )
    wv = Window.partitionBy("bkt").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        per.join(F.broadcast(prefix), "bkt")
        .select(
            "n_chars",
            (F.col("p_en") + F.sum("c_en").over(wv)).alias("cum_en"),
            (F.col("p_ot") + F.sum("c_ot").over(wv)).alias("cum_ot"),
        )
    )
    totals = per.agg(
        F.sum("c_en").alias("n_en"), F.sum("c_ot").alias("n_other")
    )
    scored = cum.crossJoin(F.broadcast(totals)).select(
        "n_chars",
        "n_en",
        "n_other",
        _micro(
            F.abs(
                F.col("cum_en").cast("double") / F.col("n_en")
                - F.col("cum_ot").cast("double") / F.col("n_other")
            )
        ).alias("d_i"),
        _micro(
            F.lit(1.358)
            * F.sqrt(
                # factors cast to double pre-product: n_en*n_other in
                # int64 wraps at ~3e9 docs/side; double is exact here
                # to 2^53 and matches the oracle's cast-first form
                (F.col("n_en") + F.col("n_other")).cast("double")
                / (F.col("n_en").cast("double") * F.col("n_other").cast("double"))
            )
        ).alias("crit_i"),
    )
    return (
        scored.orderBy(F.col("d_i").desc(), F.col("n_chars").asc())
        .limit(1)
        .select(
            F.col("n_chars").alias("at_n_chars"),
            "n_en",
            "n_other",
            (F.col("d_i").cast("double") / F.lit(float(_M))).alias("ks_d"),
            (F.col("crit_i").cast("double") / F.lit(float(_M))).alias("crit_05"),
            (F.col("d_i") > F.col("crit_i")).cast("int").alias("reject_h0"),
        )
    )


ORACLE_KS_LENGTH_DRIFT = """
WITH per AS (
  SELECT n_chars,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
         SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_ot
  FROM documents GROUP BY n_chars
), cum AS (
  SELECT n_chars,
         SUM(c_en) OVER (ORDER BY n_chars) AS cum_en,
         SUM(c_ot) OVER (ORDER BY n_chars) AS cum_ot
  FROM per
), tot AS (
  SELECT CAST(SUM(c_en) AS BIGINT) AS n_en,
         CAST(SUM(c_ot) AS BIGINT) AS n_other
  FROM per
),
scored AS (
  SELECT n_chars, n_en, n_other,
         CAST(trunc(ABS(CAST(cum_en AS DOUBLE) / n_en
                        - CAST(cum_ot AS DOUBLE) / n_other) * 1000000)
              AS BIGINT) AS d_i,
         CAST(trunc((1.358 * sqrt(CAST(n_en + n_other AS DOUBLE)
                                  / (CAST(n_en AS DOUBLE) * CAST(n_other AS DOUBLE))))
                    * 1000000)
              AS BIGINT) AS crit_i
  FROM cum CROSS JOIN tot
)
SELECT n_chars AS at_n_chars, n_en, n_other,
       CAST(d_i AS DOUBLE) / 1000000.0 AS ks_d,
       CAST(crit_i AS DOUBLE) / 1000000.0 AS crit_05,
       CAST(d_i > crit_i AS INT) AS reject_h0
FROM scored
ORDER BY d_i DESC, n_chars ASC
LIMIT 1
"""


# ------------------------------------------------ OLS (REGR_* family)


def regr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag simple linear regression of l_extendedprice on
    l_quantity — the distributed closed-form ``REGR_SLOPE`` /
    ``REGR_INTERCEPT`` / ``REGR_R2`` aggregate family, built from
    sufficient statistics rather than any iterative solver.

    Plan: ONE partial-agg shuffle emits the five exact moment sums
    (n, Σx, Σy, Σxy, Σx², Σy²) per group in integer micro-units; the
    normal-equation arithmetic runs on the 3-row group frame.  This is
    the 100 TB shape for closed-form model fits: moments are mergeable
    partials (decimal addition is associative), so the same query runs
    incrementally over standing per-partition moment assets.

    Exactness: per-row products (x·y, x², y²) are value-determined
    double expressions truncated to int64 micro-units; sums accumulate
    in DECIMAL(28,0)/HUGEINT exactly; the slope/intercept/r²
    divisions are identical IEEE expressions both engines, quantized
    before output.
    """
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_micro(x).cast(_DEC)).alias("sx_i"),
        F.sum(_micro(y).cast(_DEC)).alias("sy_i"),
        F.sum(_micro(x * y).cast(_DEC)).alias("sxy_i"),
        F.sum(_micro(x * x).cast(_DEC)).alias("sxx_i"),
        F.sum(_micro(y * y).cast(_DEC)).alias("syy_i"),
    )
    m = F.lit(float(_M))
    n = F.col("n").cast("double")
    sx = F.col("sx_i").cast("double") / m
    sy = F.col("sy_i").cast("double") / m
    sxy = F.col("sxy_i").cast("double") / m
    sxx = F.col("sxx_i").cast("double") / m
    syy = F.col("syy_i").cast("double") / m
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = num / denx
    return (
        g.select(
            "l_returnflag",
            "n",
            _micro(slope).alias("slope_i"),
            _micro((sy - slope * sx) / n).alias("icept_i"),
            _micro(num * num / (denx * deny)).alias("r2_i"),
        )
        .select(
            "l_returnflag",
            "n",
            (F.col("slope_i").cast("double") / m).alias("slope"),
            (F.col("icept_i").cast("double") / m).alias("intercept"),
            (F.col("r2_i").cast("double") / m).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_REGR_PRICE_QUANTITY = """
WITH g AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(CAST(trunc(l_quantity * 1000000) AS BIGINT)) AS sx_i,
         SUM(CAST(trunc(l_extendedprice * 1000000) AS BIGINT)) AS sy_i,
         SUM(CAST(trunc((l_quantity * l_extendedprice) * 1000000) AS BIGINT))
           AS sxy_i,
         SUM(CAST(trunc((l_quantity * l_quantity) * 1000000) AS BIGINT))
           AS sxx_i,
         SUM(CAST(trunc((l_extendedprice * l_extendedprice) * 1000000) AS BIGINT))
           AS syy_i
  FROM lineitem GROUP BY l_returnflag
), d AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS nd,
         CAST(sx_i AS DOUBLE) / 1000000.0 AS sx,
         CAST(sy_i AS DOUBLE) / 1000000.0 AS sy,
         CAST(sxy_i AS DOUBLE) / 1000000.0 AS sxy,
         CAST(sxx_i AS DOUBLE) / 1000000.0 AS sxx,
         CAST(syy_i AS DOUBLE) / 1000000.0 AS syy
  FROM g
), s AS (
  SELECT l_returnflag, n,
         CAST(trunc(((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * 1000000)
              AS BIGINT) AS slope_i,
         CAST(trunc(((sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * sx)
                     / nd) * 1000000) AS BIGINT) AS icept_i,
         CAST(trunc(((nd * sxy - sx * sy) * (nd * sxy - sx * sy)
                     / ((nd * sxx - sx * sx) * (nd * syy - sy * sy))) * 1000000)
              AS BIGINT) AS r2_i
  FROM d
)
SELECT l_returnflag, n,
       CAST(slope_i AS DOUBLE) / 1000000.0 AS slope,
       CAST(icept_i AS DOUBLE) / 1000000.0 AS intercept,
       CAST(r2_i AS DOUBLE) / 1000000.0 AS r2
FROM s
ORDER BY l_returnflag
"""


# ------------------------------------- mutual-information feature rank


_MI_TOPK = 10
_MI_LN_SCALE = 10_000  # quantize ln() to 1e-4 — the bigram-LM idiom


def mi_label_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between each embedding dimension's SIGN and
    the class label, top-10 most informative dimensions — the
    feature-selection census (which coordinates carry label signal?).

    Plan: posexplode fans each vector into (dim, sign) pairs — a 64×
    row expansion that map-side combines into ≤ dims×2×labels cells
    before the single shuffle; marginals and N derive from that cell
    frame and the tiny per-label count, all broadcast.  At 100 TB the
    shuffle payload is the CELL GRID (a constant), not the corpus.

    Exactness: MI = Σ (c/N)·ln(cN/(c_b·c_l)) is computed as the EXACT
    integer Σ c·L where L = round(ln(cN/(c_b·c_l))·1e4) — the one
    transcendental is quantized immediately (bigram-LM idiom), so the
    per-dim sum, the ranking, and the top-k cut are all integer-exact.
    """
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select("label", "dim", (F.col("x") > 0).cast("int").alias("b"))
    # the ONE explode pass → dims×2×labels cell grid, materialized;
    # BOTH marginals and N derive from it (dim 0's cells partition the
    # corpus by label), so the 64× expansion runs exactly once
    joint = pin(ex.groupBy("dim", "b", "label").agg(F.count(F.lit(1)).alias("c")))
    mb = joint.groupBy("dim", "b").agg(F.sum("c").alias("cb"))
    ml = joint.filter(F.col("dim") == 0).groupBy("label").agg(
        F.sum("c").alias("cl")
    )
    nt = ml.agg(F.sum("cl").alias("n_total"))
    scored = (
        joint.join(F.broadcast(mb), ["dim", "b"])
        .join(F.broadcast(ml), "label")
        .crossJoin(F.broadcast(nt))
        .select(
            "dim",
            (
                F.col("c")
                * F.round(
                    F.log(
                        (F.col("c") * F.col("n_total")).cast("double")
                        / (F.col("cb") * F.col("cl"))
                    )
                    * F.lit(float(_MI_LN_SCALE)),
                    0,
                ).cast("long")
            ).alias("term_i"),
            "n_total",
        )
    )
    per_dim = scored.groupBy("dim", "n_total").agg(
        F.sum("term_i").alias("mi_scaled")
    )
    return (
        per_dim.orderBy(F.col("mi_scaled").desc(), F.col("dim").asc())
        .limit(_MI_TOPK)
        .select(
            "dim",
            F.round(
                F.col("mi_scaled").cast("double")
                / (F.col("n_total") * F.lit(float(_MI_LN_SCALE))),
                6,
            ).alias("mi"),
        )
    )


ORACLE_MI_LABEL_DIMS = """
WITH ex AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CASE WHEN unnest(embedding) > 0 THEN 1 ELSE 0 END AS b
  FROM embeddings
), joint AS (
  SELECT dim, b, label, COUNT(*) AS c FROM ex GROUP BY 1, 2, 3
), mb AS (SELECT dim, b, SUM(c) AS cb FROM joint GROUP BY 1, 2),
ml AS (SELECT label, COUNT(*) AS cl FROM embeddings GROUP BY label),
nt AS (SELECT COUNT(*) AS n_total FROM embeddings),
scored AS (
  SELECT j.dim,
         j.c * CAST(ROUND(ln(CAST(j.c * nt.n_total AS DOUBLE)
                             / (mb.cb * ml.cl)) * 10000, 0) AS BIGINT)
           AS term_i,
         nt.n_total
  FROM joint j
  JOIN mb ON mb.dim = j.dim AND mb.b = j.b
  JOIN ml ON ml.label = j.label
  CROSS JOIN nt
), per_dim AS (
  SELECT dim, n_total, SUM(term_i) AS mi_scaled FROM scored GROUP BY dim, n_total
)
SELECT dim,
       ROUND(CAST(mi_scaled AS DOUBLE) / (n_total * 10000.0), 6) AS mi
FROM per_dim
ORDER BY mi_scaled DESC, dim ASC
LIMIT {topk}
""".format(topk=_MI_TOPK)


# ------------------------------------------------------ Welch t-test


def welch_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test: does mean event
    value differ between 'purchase' and 'click'?  The A/B-test
    primitive (ANOVA above compares ALL groups; this is the targeted
    pairwise form with the Welch–Satterthwaite df correction).

    Plan: ONE conditional aggregation over the type-filtered scan
    (filter pushed to parquet) produces both groups' exact integer
    moments in a single row — no join, no second pass, nothing but a
    scalar-aggregate exchange.  The t statistic and fractional df are
    value-determined double arithmetic over those integers.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    a = F.col("event_type") == "purchase"
    v = F.col("value")
    zero = F.lit(0).cast("long")
    g = e.agg(
        F.sum(F.when(a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(a, to_micro(v)).otherwise(zero).cast(_DEC)).alias("sxa_i"),
        F.sum(F.when(a, _micro(v * v)).otherwise(zero).cast(_DEC)).alias("sxxa_i"),
        F.sum(F.when(~a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(~a, to_micro(v)).otherwise(zero).cast(_DEC)).alias("sxb_i"),
        F.sum(F.when(~a, _micro(v * v)).otherwise(zero).cast(_DEC)).alias("sxxb_i"),
    )
    m = F.lit(float(_M))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    sxa = F.col("sxa_i").cast("double") / m
    sxb = F.col("sxb_i").cast("double") / m
    sxxa = F.col("sxxa_i").cast("double") / m
    sxxb = F.col("sxxb_i").cast("double") / m
    ma = sxa / na
    mb = sxb / nb
    va = (sxxa - sxa * sxa / na) / (na - F.lit(1.0))
    vb = (sxxb - sxb * sxb / nb) / (nb - F.lit(1.0))
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    df = (se2 * se2) / (
        (va / na) * (va / na) / (na - F.lit(1.0))
        + (vb / nb) * (vb / nb) / (nb - F.lit(1.0))
    )
    return g.select(
        F.col("n_a").cast("long").alias("n_purchase"),
        F.col("n_b").cast("long").alias("n_click"),
        (_micro(ma).cast("double") / m).alias("mean_purchase"),
        (_micro(mb).cast("double") / m).alias("mean_click"),
        (_micro(va).cast("double") / m).alias("var_purchase"),
        (_micro(vb).cast("double") / m).alias("var_click"),
        (_micro(t).cast("double") / m).alias("t_stat"),
        (_micro(df).cast("double") / m).alias("df_welch"),
    )


ORACLE_WELCH_EVENT_VALUES = """
WITH g AS (
  SELECT
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN event_type = 'purchase'
        THEN CAST(trunc(value * 1000000) AS BIGINT) ELSE 0 END) AS sxa_i,
    SUM(CASE WHEN event_type = 'purchase'
        THEN CAST(trunc((value * value) * 1000000) AS BIGINT) ELSE 0 END) AS sxxa_i,
    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_b,
    SUM(CASE WHEN event_type = 'click'
        THEN CAST(trunc(value * 1000000) AS BIGINT) ELSE 0 END) AS sxb_i,
    SUM(CASE WHEN event_type = 'click'
        THEN CAST(trunc((value * value) * 1000000) AS BIGINT) ELSE 0 END) AS sxxb_i
  FROM events WHERE event_type IN ('purchase', 'click')
), d AS (
  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(sxa_i AS DOUBLE) / 1000000.0 AS sxa,
         CAST(sxb_i AS DOUBLE) / 1000000.0 AS sxb,
         CAST(sxxa_i AS DOUBLE) / 1000000.0 AS sxxa,
         CAST(sxxb_i AS DOUBLE) / 1000000.0 AS sxxb
  FROM g
), s AS (
  SELECT n_a, n_b, na, nb,
         sxa / na AS ma, sxb / nb AS mb,
         (sxxa - sxa * sxa / na) / (na - 1.0) AS va,
         (sxxb - sxb * sxb / nb) / (nb - 1.0) AS vb
  FROM d
), s2 AS (
  SELECT *, va / na + vb / nb AS se2 FROM s
)
SELECT n_a AS n_purchase, n_b AS n_click,
       CAST(CAST(trunc(ma * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0
         AS mean_purchase,
       CAST(CAST(trunc(mb * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0
         AS mean_click,
       CAST(CAST(trunc(va * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0
         AS var_purchase,
       CAST(CAST(trunc(vb * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0
         AS var_click,
       CAST(CAST(trunc(((ma - mb) / sqrt(se2)) * 1000000) AS BIGINT) AS DOUBLE)
         / 1000000.0 AS t_stat,
       CAST(CAST(trunc(((se2 * se2)
                        / ((va / na) * (va / na) / (na - 1.0)
                           + (vb / nb) * (vb / nb) / (nb - 1.0))) * 1000000)
                 AS BIGINT) AS DOUBLE) / 1000000.0 AS df_welch
FROM s2
"""


# ---------------------------------------------------- join-key skew


def join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew audit for a join/aggregation key
    (orders.o_custkey): entropy, normalized entropy, Herfindahl
    concentration, and the hottest key's share — the measurement that
    decides whether the repo's salting/AQE-skew machinery
    (operators/layout.py) is needed for a given key.

    Plan: per-key counts (one shuffle) → ONE scalar aggregation over
    the key frame.  Entropy uses the branch-free identity
    H = ln T − (Σ c·ln c)/T, so no per-row knowledge of the total is
    needed — the whole audit is two chained aggregations with zero
    joins, zero windows, zero recomputation, at any scale.

    Exactness: Σ c·ln c accumulates c·round(ln(c)·1e4) — exact
    integers (the quantized-ln idiom); ln T and ln n_keys are
    single-value quantized the same way.
    """
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
    lnq = lambda col: F.round(  # noqa: E731 — quantized ln, 1e-4
        F.log(col.cast("double")) * F.lit(10000.0), 0
    ).cast("long")
    g = per.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.sum((F.col("c") * lnq(F.col("c"))).cast(_DEC)).alias("s_i"),
        F.sum((F.col("c") * F.col("c")).cast(_DEC)).alias("sq_i"),
        F.max("c").alias("max_c"),
    )
    t = F.col("n_rows").cast("double")
    entropy = (
        lnq(F.col("n_rows")).cast("double") / F.lit(10000.0)
        - F.col("s_i").cast("double") / (t * F.lit(10000.0))
    )
    return g.select(
        "n_keys",
        "n_rows",
        "max_c",
        F.round(entropy, 6).alias("entropy"),
        F.round(
            entropy / (lnq(F.col("n_keys")).cast("double") / F.lit(10000.0)), 6
        ).alias("norm_entropy"),
        F.round(F.col("sq_i").cast("double") / (t * t), 6).alias("hhi"),
        F.round(F.col("max_c").cast("double") / t, 6).alias("max_key_share"),
        F.round(F.col("max_c") * F.col("n_keys") / t, 6).alias("skew_factor"),
    )


ORACLE_JOIN_KEY_SKEW_AUDIT = """
WITH per AS (
  SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY o_custkey
), g AS (
  SELECT COUNT(*) AS n_keys,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         SUM(c * CAST(ROUND(ln(CAST(c AS DOUBLE)) * 10000, 0) AS BIGINT)) AS s_i,
         SUM(c * c) AS sq_i,
         MAX(c) AS max_c
  FROM per
)
SELECT n_keys, n_rows, max_c,
  ROUND(CAST(CAST(ROUND(ln(CAST(n_rows AS DOUBLE)) * 10000, 0) AS BIGINT)
             AS DOUBLE) / 10000.0
        - CAST(s_i AS DOUBLE) / (CAST(n_rows AS DOUBLE) * 10000.0), 6)
    AS entropy,
  ROUND((CAST(CAST(ROUND(ln(CAST(n_rows AS DOUBLE)) * 10000, 0) AS BIGINT)
              AS DOUBLE) / 10000.0
         - CAST(s_i AS DOUBLE) / (CAST(n_rows AS DOUBLE) * 10000.0))
        / (CAST(CAST(ROUND(ln(CAST(n_keys AS DOUBLE)) * 10000, 0) AS BIGINT)
                AS DOUBLE) / 10000.0), 6) AS norm_entropy,
  ROUND(CAST(sq_i AS DOUBLE)
        / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)), 6) AS hhi,
  ROUND(CAST(max_c AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS max_key_share,
  ROUND(CAST(max_c * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
    AS skew_factor
FROM g
"""


# ------------------------------------------ seasonal decomposition


def _seasonal_frames(spark: SparkSession, sf_dir: str):
    """Shared seasonality pipeline: (j, sfrm) — the per-day detrended
    deviation frame (day, dow, dev_i, dev2_i; micro-/unit-quantized
    exact ints over the checkpointed per-day revenue frame) and the
    per-dow seasonal-index frame.  Consumed by revenue_seasonality and
    seasonal_anomaly_days."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(to_micro(F.col("o_totalprice")).cast(_DEC)).alias("rev_i"))
    )
    m = F.lit(float(_M))
    d2 = daily.select(
        "day",
        F.date_trunc("month", "day").alias("month"),
        (F.expr("weekday(day)") + F.lit(1)).alias("dow"),
        (F.col("rev_i").cast("double") / m).alias("rev_d"),
        "rev_i",
    )
    monthly = d2.groupBy("month").agg(
        F.sum(F.col("rev_i")).alias("m_i"), F.count(F.lit(1)).alias("nd")
    )
    j = d2.join(F.broadcast(monthly), "month").select(
        "day",
        "dow",
        "rev_i",
        (
            F.col("rev_d")
            - F.col("m_i").cast("double") / m / F.col("nd")
        ).alias("dev"),
    )
    # squared deviations are quantized at UNIT (dollar-squared) scale:
    # micro-quantizing a ~1e14 square overflows int64; unit granularity
    # is ~13 orders of magnitude below the variance it accumulates into
    j = j.select(
        "day", "dow", _micro(F.col("dev")).alias("dev_i"),
        (F.col("dev") * F.col("dev")).cast("long").alias("dev2_i"),
    )
    seasonal = j.groupBy("dow").agg(
        F.sum(F.col("dev_i").cast(_DEC)).alias("sd_i"),
        F.sum(F.col("dev2_i").cast(_DEC)).alias("s2_i"),
        F.count(F.lit(1)).alias("n_days"),
    )
    seas_d = F.col("sd_i").cast("double") / m / F.col("n_days")
    sfrm = seasonal.select(
        "dow", "n_days", "sd_i", "s2_i", _micro(seas_d).alias("seas_i")
    )
    return j, sfrm


def revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily order revenue:
    day revenue = month level (trend) + day-of-week seasonal + residual.
    Output: per-ISO-dow seasonal index plus the global fraction of
    detrended variance the weekly cycle explains — the time-series
    census behind load forecasting and anomaly baselines.

    Plan: ONE fact pass aggregates to the per-day frame (micro-unit
    exact), which is checkpointed; month trend, dow seasonal indices,
    residuals, and both global variances all derive from that
    ~|days|-row frame via broadcast joins — no windows at all (the
    trend is the month mean, a join against a months-sized frame, so
    nothing needs an ordered scan).

    Exactness: day revenues are exact micro ints; deviations are
    micro-quantized and squared deviations UNIT-quantized per day
    before every cross-engine sum (micro on a ~1e14 square would
    overflow int64; unit granularity sits ~13 orders below the
    variance magnitude), so all variance sums are exact integer
    folds.
    """
    j, sfrm = _seasonal_frames(spark, sf_dir)
    m = F.lit(float(_M))
    # residual = dev − dow seasonal; re-quantized per day, exact sums
    r = j.join(F.broadcast(sfrm.select("dow", "seas_i")), "dow").select(
        _micro(
            F.col("dev_i").cast("double") / m
            - F.col("seas_i").cast("double") / m
        ).alias("res_i")
    )
    gtot = r.agg(
        F.sum(F.col("res_i").cast(_DEC)).alias("gr_i"),
        F.sum((
            (F.col("res_i").cast("double") / m)
            * (F.col("res_i").cast("double") / m)
        ).cast("long").cast(_DEC)).alias("gr2_i"),
    )
    dtot = j.agg(
        F.sum(F.col("dev_i").cast(_DEC)).alias("gd_i"),
        F.sum(F.col("dev2_i").cast(_DEC)).alias("gd2_i"),
        F.count(F.lit(1)).alias("nall"),
    )
    gd = F.col("gd_i").cast("double") / m
    gd2 = F.col("gd2_i").cast("double")  # unit scale
    gr = F.col("gr_i").cast("double") / m
    gr2 = F.col("gr2_i").cast("double")  # unit scale
    nall = F.col("nall").cast("double")
    ss_dev = gd2 - gd * gd / nall
    ss_res = gr2 - gr * gr / nall
    glob = (
        dtot.crossJoin(F.broadcast(gtot))
        .select(_micro(F.lit(1.0) - ss_res / ss_dev).alias("r2_i"))
    )
    return (
        sfrm.crossJoin(F.broadcast(glob))
        .select(
            "dow",
            "n_days",
            (F.col("seas_i").cast("double") / m).alias("seasonal"),
            (
                (
                    (
                        F.col("s2_i").cast("double")
                        - (F.col("sd_i").cast("double") / m)
                        * (F.col("sd_i").cast("double") / m)
                        / F.col("n_days")
                    )
                    / (F.col("n_days") - F.lit(1))
                )
                .cast("long")
                .cast("double")
            ).alias("var_dev"),
            (F.col("r2_i").cast("double") / m).alias("weekly_r2"),
        )
        .orderBy("dow")
    )


_SEASONAL_CTES = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         SUM(CAST(trunc(o_totalprice * 1000000) AS BIGINT)) AS rev_i
  FROM orders GROUP BY 1
), d2 AS (
  SELECT day, date_trunc('month', day) AS month,
         CAST(date_part('isodow', day) AS INT) AS dow,
         CAST(rev_i AS DOUBLE) / 1000000.0 AS rev_d, rev_i
  FROM daily
), monthly AS (
  SELECT month, SUM(rev_i) AS m_i, COUNT(*) AS nd FROM d2 GROUP BY month
), j AS (
  SELECT day, dow,
         CAST(trunc((rev_d - CAST(m_i AS DOUBLE) / 1000000.0 / nd) * 1000000)
              AS BIGINT) AS dev_i,
         CAST(trunc((rev_d - CAST(m_i AS DOUBLE) / 1000000.0 / nd)
                     * (rev_d - CAST(m_i AS DOUBLE) / 1000000.0 / nd))
              AS BIGINT) AS dev2_i
  FROM d2 JOIN monthly USING (month)
), seasonal AS (
  SELECT dow, SUM(dev_i) AS sd_i, SUM(dev2_i) AS s2_i, COUNT(*) AS n_days
  FROM j GROUP BY dow
), sfrm AS (
  SELECT dow, n_days, sd_i, s2_i,
         CAST(trunc((CAST(sd_i AS DOUBLE) / 1000000.0 / n_days) * 1000000)
              AS BIGINT) AS seas_i
  FROM seasonal
)"""


ORACLE_REVENUE_SEASONALITY = _SEASONAL_CTES + """, r AS (
  SELECT CAST(trunc((CAST(j.dev_i AS DOUBLE) / 1000000.0
                     - CAST(s.seas_i AS DOUBLE) / 1000000.0) * 1000000)
              AS BIGINT) AS res_i
  FROM j JOIN sfrm s USING (dow)
), gtot AS (
  SELECT SUM(res_i) AS gr_i,
         SUM(CAST(trunc((CAST(res_i AS DOUBLE) / 1000000.0)
                         * (CAST(res_i AS DOUBLE) / 1000000.0))
                  AS BIGINT)) AS gr2_i
  FROM r
), dtot AS (
  SELECT SUM(dev_i) AS gd_i, SUM(dev2_i) AS gd2_i, COUNT(*) AS nall FROM j
), gstat AS (
  SELECT CAST(trunc((1.0
           - (CAST(gr2_i AS DOUBLE)
              - (CAST(gr_i AS DOUBLE) / 1000000.0)
                * (CAST(gr_i AS DOUBLE) / 1000000.0) / CAST(nall AS DOUBLE))
             / (CAST(gd2_i AS DOUBLE)
                - (CAST(gd_i AS DOUBLE) / 1000000.0)
                  * (CAST(gd_i AS DOUBLE) / 1000000.0) / CAST(nall AS DOUBLE)))
          * 1000000) AS BIGINT) AS r2_i
  FROM dtot CROSS JOIN gtot
)
SELECT dow, n_days,
       CAST(seas_i AS DOUBLE) / 1000000.0 AS seasonal,
       CAST(CAST(trunc((CAST(s2_i AS DOUBLE)
                        - (CAST(sd_i AS DOUBLE) / 1000000.0)
                          * (CAST(sd_i AS DOUBLE) / 1000000.0) / n_days)
                       / (n_days - 1)) AS BIGINT) AS DOUBLE)
         AS var_dev,
       CAST(r2_i AS DOUBLE) / 1000000.0 AS weekly_r2
FROM sfrm CROSS JOIN gstat
ORDER BY dow
"""


def seasonal_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-ADJUSTED anomaly detection: the top-10 days whose
    revenue residual (day − month trend − day-of-week seasonal) sits
    furthest from the residual median, flagged when beyond 3 robust
    MADs — the composition of the seasonal decomposition with the
    median/MAD detector that raw-value z-scores can't match (a strong
    Saturday is NORMAL; the same revenue on a Tuesday is the anomaly).

    Plan: the shared `_seasonal_frames` pipeline (one fact pass into
    the checkpointed per-day frame) plus two tapering median
    aggregates over the ~|days|-row residual frame and one TakeOrdered
    top-10 — no windows, nothing corpus-sized after the per-day agg.

    Exactness: residuals are micro-quantized exact-int differences;
    the exact interpolated median over identical doubles is the same
    arithmetic both engines (event_value_outliers_mad precedent), so
    deviations, the 3-MAD flag, and the ranking replay value-exactly.
    """
    j, sfrm = _seasonal_frames(spark, sf_dir)
    m = F.lit(float(_M))
    res = j.join(F.broadcast(sfrm.select("dow", "seas_i")), "dow").select(
        "day",
        "dow",
        (
            (F.col("dev_i").cast("double") / m)
            - (F.col("seas_i").cast("double") / m)
        ).alias("res_d"),
    )
    med = res.agg(F.median("res_d").alias("med"))
    dev = res.crossJoin(F.broadcast(med)).select(
        "day", "dow", "res_d", "med",
        F.abs(F.col("res_d") - F.col("med")).alias("adev"),
    )
    mad = dev.agg(F.median("adev").alias("mad"))
    return (
        dev.crossJoin(F.broadcast(mad))
        .orderBy(F.col("adev").desc(), F.col("day").asc())
        .limit(10)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dow",
            F.round("res_d", 2).alias("residual"),
            F.round("med", 2).alias("median_residual"),
            F.round("mad", 2).alias("mad_residual"),
            (F.col("adev") > F.lit(3.0) * F.col("mad")).cast("int").alias(
                "is_anomaly"
            ),
        )
    )


ORACLE_SEASONAL_ANOMALY_DAYS = _SEASONAL_CTES + """, res AS (
  SELECT day, dow,
         (CAST(j.dev_i AS DOUBLE) / 1000000.0
          - CAST(s.seas_i AS DOUBLE) / 1000000.0) AS res_d
  FROM j JOIN sfrm s USING (dow)
), med AS (SELECT median(res_d) AS med FROM res),
dev AS (
  SELECT day, dow, res_d, med, abs(res_d - med) AS adev
  FROM res CROSS JOIN med
), mad AS (SELECT median(adev) AS mad FROM dev)
SELECT strftime(day, '%Y-%m-%d') AS day, dow,
       ROUND(res_d, 2) AS residual,
       ROUND(med, 2) AS median_residual,
       ROUND(mad, 2) AS mad_residual,
       CAST(adev > 3.0 * mad AS INT) AS is_anomaly
FROM dev CROSS JOIN mad
ORDER BY adev DESC, day ASC
LIMIT 10
"""


# --------------------------------------------------------------- PSI


_PSI_BUCKET = 64
_PSI_SMOOTH = 1  # Laplace add-one so empty buckets never divide by zero


def psi_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the English and non-English
    document-length distributions, over fixed 64-char buckets:
    PSI = Σ_b (p_b − q_b)·ln(p_b/q_b), the bucketed drift score risk
    teams threshold at 0.1/0.25 — the KS census (ks_length_drift)
    answers "did the distribution shift anywhere"; PSI answers "by how
    much, and which buckets moved".

    Plan: ONE fact pass → bucket×2 counts (a ≤max-length/64-row frame,
    checkpointed); shares, per-bucket contributions, and the global
    index derive from it with zero further scans and zero windows.

    Exactness: bucket counts are exact ints; shares are
    Laplace-smoothed exact-int ratios; the one transcendental
    ln(p_b/q_b) is quantized to 1e-4 immediately and each bucket's
    contribution re-quantized to 1e-6 before the EXACT integer global
    sum (the house ln idiom)."""
    d = table(spark, sf_dir, "documents")
    per = pin(
        d.groupBy(F.floor(F.col("n_chars") / F.lit(_PSI_BUCKET)).alias("bkt"))
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_en"),
            F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("c_ot"),
        )
    )
    tot = per.agg(
        F.sum("c_en").alias("n_en"),
        F.sum("c_ot").alias("n_ot"),
        F.count(F.lit(1)).alias("n_bkt"),
    )
    j = per.crossJoin(F.broadcast(tot))
    # Laplace-smoothed shares: (c+1)/(n+B) — exact-integer operands
    p = (F.col("c_en") + F.lit(_PSI_SMOOTH)).cast("double") / (
        F.col("n_en") + F.col("n_bkt") * F.lit(_PSI_SMOOTH)
    )
    q = (F.col("c_ot") + F.lit(_PSI_SMOOTH)).cast("double") / (
        F.col("n_ot") + F.col("n_bkt") * F.lit(_PSI_SMOOTH)
    )
    lnq_i = F.round(F.log(p / q) * F.lit(10000.0), 0).cast("long")
    contrib_i = _micro((p - q) * lnq_i.cast("double") / F.lit(10000.0))
    k = j.select(
        "bkt",
        "c_en",
        "c_ot",
        contrib_i.alias("contrib_i"),
    )
    g = k.agg(F.sum("contrib_i").alias("psi_i"))
    return (
        k.crossJoin(F.broadcast(g))
        .select(
            "bkt",
            "c_en",
            "c_ot",
            (F.col("contrib_i").cast("double") / F.lit(float(_M))).alias("contrib"),
            (F.col("psi_i").cast("double") / F.lit(float(_M))).alias("psi"),
        )
        .orderBy("bkt")
    )


ORACLE_PSI_LENGTH_DRIFT = f"""
WITH per AS (
  SELECT CAST(FLOOR(n_chars / {_PSI_BUCKET}) AS BIGINT) AS bkt,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
         SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_ot
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c_en) AS BIGINT) AS n_en, CAST(SUM(c_ot) AS BIGINT) AS n_ot,
         COUNT(*) AS n_bkt
  FROM per
), j AS (
  SELECT bkt, c_en, c_ot,
         CAST(c_en + {_PSI_SMOOTH} AS DOUBLE) / (n_en + n_bkt * {_PSI_SMOOTH}) AS p,
         CAST(c_ot + {_PSI_SMOOTH} AS DOUBLE) / (n_ot + n_bkt * {_PSI_SMOOTH}) AS q
  FROM per CROSS JOIN tot
), k AS (
  SELECT bkt, c_en, c_ot,
         CAST(trunc(((p - q)
                     * (CAST(CAST(ROUND(ln(p / q) * 10000, 0) AS BIGINT) AS DOUBLE)
                        / 10000.0)) * 1000000) AS BIGINT) AS contrib_i
  FROM j
), g AS (SELECT SUM(contrib_i) AS psi_i FROM k)
SELECT bkt, CAST(c_en AS BIGINT) AS c_en, CAST(c_ot AS BIGINT) AS c_ot,
       CAST(contrib_i AS DOUBLE) / 1000000.0 AS contrib,
       CAST(psi_i AS DOUBLE) / 1000000.0 AS psi
FROM k CROSS JOIN g
ORDER BY bkt
"""


def residual_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial-correlation audit of the seasonal model's residuals:
    Durbin–Watson statistic and the lag-1 Pearson autocorrelation over
    adjacent-day residual pairs — the standard check that the
    trend+seasonal decomposition left no structure behind (DW ≈ 2 /
    r1 ≈ 0 = white residuals; DW → 0 = the model missed a slow trend).

    Plan: the shared `_seasonal_frames` pipeline; adjacent pairs come
    from a calendar EQUI-join of the per-day residual frame to itself
    on day+1 (exact timestamp key — no window, no sort); one moment
    aggregation over the pairs plus one over all days.

    Exactness: residuals are micro-int-derived doubles; their products
    and squared differences are UNIT-quantized per pair (squares ~1e14
    overflow micro int64) and folded as exact decimals; DW and r1 are
    value-determined double expressions over those integers."""
    j, sfrm = _seasonal_frames(spark, sf_dir)
    m = F.lit(float(_M))
    res = pin(j.join(F.broadcast(sfrm.select("dow", "seas_i")), "dow").select(
        "day",
        (
            (F.col("dev_i").cast("double") / m)
            - (F.col("seas_i").cast("double") / m)
        ).alias("e"),
    ))
    a = res.select((F.col("day") + F.expr("INTERVAL 1 DAY")).alias("day"),
                   F.col("e").alias("e_prev"))
    pairs = res.join(a, "day").select("e_prev", F.col("e").alias("e_cur"))
    unit = lambda c: c.cast("long").cast(_DEC)  # noqa: E731
    pm = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(_micro(F.col("e_prev")).cast(_DEC)).alias("sx_i"),
        F.sum(_micro(F.col("e_cur")).cast(_DEC)).alias("sy_i"),
        F.sum(unit(F.col("e_prev") * F.col("e_cur"))).alias("sxy_u"),
        F.sum(unit(F.col("e_prev") * F.col("e_prev"))).alias("sxx_u"),
        F.sum(unit(F.col("e_cur") * F.col("e_cur"))).alias("syy_u"),
        F.sum(
            unit((F.col("e_cur") - F.col("e_prev")) * (F.col("e_cur") - F.col("e_prev")))
        ).alias("sd2_u"),
    )
    alltot = res.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(unit(F.col("e") * F.col("e"))).alias("se2_u"),
    )
    t = pm.crossJoin(F.broadcast(alltot))
    n = F.col("n_pairs").cast("double")
    sx = F.col("sx_i").cast("double") / m
    sy = F.col("sy_i").cast("double") / m
    sxy = F.col("sxy_u").cast("double")
    sxx = F.col("sxx_u").cast("double")
    syy = F.col("syy_u").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return t.select(
        "n_days",
        "n_pairs",
        (_micro(F.col("sd2_u").cast("double") / F.col("se2_u").cast("double"))
         .cast("double") / m).alias("durbin_watson"),
        (_micro(num / den).cast("double") / m).alias("r1_autocorr"),
    )


ORACLE_RESIDUAL_AUTOCORR = _SEASONAL_CTES + """, res AS (
  SELECT day,
         (CAST(j.dev_i AS DOUBLE) / 1000000.0
          - CAST(s.seas_i AS DOUBLE) / 1000000.0) AS e
  FROM j JOIN sfrm s USING (dow)
), pairs AS (
  SELECT a.e AS e_prev, b.e AS e_cur
  FROM res a JOIN res b ON b.day = a.day + INTERVAL 1 DAY
), pm AS (
  SELECT COUNT(*) AS n_pairs,
         SUM(CAST(trunc(e_prev * 1000000) AS BIGINT)) AS sx_i,
         SUM(CAST(trunc(e_cur * 1000000) AS BIGINT)) AS sy_i,
         SUM(CAST(trunc(e_prev * e_cur) AS BIGINT)) AS sxy_u,
         SUM(CAST(trunc(e_prev * e_prev) AS BIGINT)) AS sxx_u,
         SUM(CAST(trunc(e_cur * e_cur) AS BIGINT)) AS syy_u,
         SUM(CAST(trunc((e_cur - e_prev) * (e_cur - e_prev)) AS BIGINT)) AS sd2_u
  FROM pairs
), alltot AS (
  SELECT COUNT(*) AS n_days,
         SUM(CAST(trunc(e * e) AS BIGINT)) AS se2_u
  FROM res
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(CAST(trunc((CAST(sd2_u AS DOUBLE) / CAST(se2_u AS DOUBLE)) * 1000000)
                 AS BIGINT) AS DOUBLE) / 1000000.0 AS durbin_watson,
       CAST(CAST(trunc(((CAST(n_pairs AS DOUBLE) * CAST(sxy_u AS DOUBLE)
                         - (CAST(sx_i AS DOUBLE) / 1000000.0)
                           * (CAST(sy_i AS DOUBLE) / 1000000.0))
                        / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx_u AS DOUBLE)
                                - (CAST(sx_i AS DOUBLE) / 1000000.0)
                                  * (CAST(sx_i AS DOUBLE) / 1000000.0))
                               * (CAST(n_pairs AS DOUBLE) * CAST(syy_u AS DOUBLE)
                                  - (CAST(sy_i AS DOUBLE) / 1000000.0)
                                    * (CAST(sy_i AS DOUBLE) / 1000000.0))))
                       * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0 AS r1_autocorr
FROM pm CROSS JOIN alltot
"""


# ------------------------------------------------------------ Benford

# log10(1 + 1/d) as exact micro-integers, precomputed in Python so both
# engines consume identical literals (no cross-engine log10 at all)
_BENFORD_P_I = {
    d: int(__import__("math").log10(1.0 + 1.0 / d) * 1_000_000) for d in range(1, 10)
}


def benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: the leading-digit
    distribution against log10(1+1/d), with the χ² misfit statistic —
    the fraud/synthetic-data screen auditors run on money columns
    (organically-grown magnitudes follow Benford; fabricated or
    uniformly-generated ones don't — this synthetic corpus SHOULD
    misfit, and the certified statistic proves the detector sees it).

    Plan: leading digit extracted as a string head of the integer part
    (pure JVM/SQL string op — no log10 at runtime; the Benford
    expectations are Python-precomputed micro-integer LITERALS shared
    by both engines), one 9-cell aggregation, χ² folded exactly from
    micro-quantized cells."""
    o = table(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    cells = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("observed")
    )
    tot = cells.agg(F.sum("observed").alias("n_total"))
    p_map = F.create_map(
        *[x for d, p in _BENFORD_P_I.items() for x in (F.lit(d), F.lit(p))]
    )
    j = cells.crossJoin(F.broadcast(tot)).select(
        "digit",
        "observed",
        "n_total",
        (
            p_map[F.col("digit")].cast("double")
            / F.lit(1.0e6)
            * F.col("n_total")
        ).alias("exp_d"),
    )
    diff = F.col("observed").cast("double") - F.col("exp_d")
    k = j.select(
        "digit",
        "observed",
        _micro(F.col("exp_d")).alias("exp_i"),
        _micro(diff * diff / F.col("exp_d")).alias("cell_i"),
    )
    g = k.agg(F.sum("cell_i").alias("chi2_i"))
    return (
        k.crossJoin(F.broadcast(g))
        .select(
            "digit",
            "observed",
            (F.col("exp_i").cast("double") / F.lit(float(_M))).alias("expected"),
            (F.col("chi2_i").cast("double") / F.lit(float(_M))).alias("chi2"),
        )
        .orderBy("digit")
    )


_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_P_I.items()
) + " END"

ORACLE_BENFORD_ORDER_TOTALS = f"""
WITH cells AS (
  SELECT CAST(substr(CAST(CAST(trunc(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit,
         COUNT(*) AS observed
  FROM orders GROUP BY 1
), tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n_total FROM cells),
j AS (
  SELECT digit, observed, n_total,
         CAST(({_BENFORD_CASE_SQL}) AS DOUBLE) / 1000000.0 * n_total AS exp_d
  FROM cells CROSS JOIN tot
), k AS (
  SELECT digit, observed,
         CAST(trunc(exp_d * 1000000) AS BIGINT) AS exp_i,
         CAST(trunc(((CAST(observed AS DOUBLE) - exp_d)
                     * (CAST(observed AS DOUBLE) - exp_d) / exp_d) * 1000000)
              AS BIGINT) AS cell_i
  FROM j
), g AS (SELECT SUM(cell_i) AS chi2_i FROM k)
SELECT digit, observed,
       CAST(exp_i AS DOUBLE) / 1000000.0 AS expected,
       CAST(chi2_i AS DOUBLE) / 1000000.0 AS chi2
FROM k CROSS JOIN g
ORDER BY digit
"""


# ------------------------------------------------------- KL / JS div


def jsd_source_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between src0 and the rest of the corpus:
    Kullback-Leibler divergence (both directions) and the symmetric
    bounded Jensen-Shannon divergence over word distributions — the
    token-level companion to the length-based PSI/KS censuses (a
    source can keep its length profile while its VOCABULARY shifts).

    Plan: one explode pass map-side-combines into the vocab-sized
    (word × 2-slice) count frame (checkpointed); shares, per-word
    contributions, and the three divergences derive from it — nothing
    downstream grows with the corpus.

    Exactness: Laplace-smoothed shares are exact-integer ratios; each
    ln is quantized to 1e-4 immediately and each word's contribution
    re-quantized to 1e-7 before EXACT integer global sums (finer than
    the usual 1e-6: per-word terms are tiny and there are only
    |vocab| of them)."""
    d = table(spark, sf_dir, "documents")
    w = d.select(
        (F.col("source") == "src0").cast("int").alias("is_a"),
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    )
    per = pin(
        w.groupBy("word")
        .agg(
            F.sum("is_a").alias("c_a"),
            F.sum(F.lit(1) - F.col("is_a")).alias("c_b"),
        )
    )
    tot = per.agg(
        F.sum("c_a").alias("n_a"),
        F.sum("c_b").alias("n_b"),
        F.count(F.lit(1)).alias("v"),
    )
    j = per.crossJoin(F.broadcast(tot))
    p = (F.col("c_a") + F.lit(1)).cast("double") / (F.col("n_a") + F.col("v"))
    q = (F.col("c_b") + F.lit(1)).cast("double") / (F.col("n_b") + F.col("v"))
    m = (p + q) / F.lit(2.0)
    lnq = lambda x: (  # noqa: E731
        F.round(F.log(x) * F.lit(10000.0), 0).cast("long").cast("double")
        / F.lit(10000.0)
    )
    c7 = lambda x: (x * F.lit(1.0e7)).cast("long")  # noqa: E731
    k = j.select(
        c7(p * lnq(p / q)).alias("kab_i"),
        c7(q * lnq(q / p)).alias("kba_i"),
        c7(p * lnq(p / m) + q * lnq(q / m)).alias("js_i"),
        "v",
        "n_a",
        "n_b",
    )
    g = k.groupBy("v", "n_a", "n_b").agg(
        F.sum("kab_i").alias("kab_s"),
        F.sum("kba_i").alias("kba_s"),
        F.sum("js_i").alias("js_s"),
    )
    return g.select(
        F.col("v").alias("vocab_size"),
        F.col("n_a").cast("long").alias("n_tokens_src0"),
        F.col("n_b").cast("long").alias("n_tokens_other"),
        (F.col("kab_s").cast("double") / F.lit(1.0e7)).alias("kl_src0_other"),
        (F.col("kba_s").cast("double") / F.lit(1.0e7)).alias("kl_other_src0"),
        (F.col("js_s").cast("double") / F.lit(2.0e7)).alias("jsd"),
    )


ORACLE_JSD_SOURCE_VOCAB = """
WITH w AS (
  SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_a,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
), per AS (
  SELECT word, SUM(is_a) AS c_a, SUM(1 - is_a) AS c_b FROM w GROUP BY word
), tot AS (
  SELECT CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b,
         COUNT(*) AS v
  FROM per
), j AS (
  SELECT CAST(c_a + 1 AS DOUBLE) / (n_a + v) AS p,
         CAST(c_b + 1 AS DOUBLE) / (n_b + v) AS q,
         v, n_a, n_b
  FROM per CROSS JOIN tot
), k AS (
  SELECT v, n_a, n_b,
    CAST(trunc((p * (CAST(CAST(ROUND(ln(p / q) * 10000, 0) AS BIGINT) AS DOUBLE)
                     / 10000.0)) * 10000000) AS BIGINT) AS kab_i,
    CAST(trunc((q * (CAST(CAST(ROUND(ln(q / p) * 10000, 0) AS BIGINT) AS DOUBLE)
                     / 10000.0)) * 10000000) AS BIGINT) AS kba_i,
    CAST(trunc((p * (CAST(CAST(ROUND(ln(p / ((p + q) / 2.0)) * 10000, 0) AS BIGINT)
                          AS DOUBLE) / 10000.0)
                + q * (CAST(CAST(ROUND(ln(q / ((p + q) / 2.0)) * 10000, 0) AS BIGINT)
                            AS DOUBLE) / 10000.0)) * 10000000) AS BIGINT) AS js_i
  FROM j
)
SELECT v AS vocab_size, n_a AS n_tokens_src0, n_b AS n_tokens_other,
       CAST(SUM(kab_i) AS DOUBLE) / 10000000.0 AS kl_src0_other,
       CAST(SUM(kba_i) AS DOUBLE) / 10000000.0 AS kl_other_src0,
       CAST(SUM(js_i) AS DOUBLE) / 20000000.0 AS jsd
FROM k GROUP BY v, n_a, n_b
"""


# ------------------------------------------ Kaplan-Meier survival


def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of user LIFETIME (days between a
    user's first and last observed event) with right-censoring — the
    survival-analysis primitive behind "how long do users stay
    active?", which naive retention cohorts answer wrongly because
    they ignore users still alive at the observation boundary.

    Censoring rule: the corpus ends at the global max event day; a
    user whose last event is within 7 days of that boundary may still
    be active, so their lifetime is CENSORED (they leave the risk set
    without contributing a death).  Everyone else churned at their
    observed lifetime.  S(t) = Π_{d ≤ t} (1 − deaths_d / at_risk_d),
    the product running over the discrete lifetime-day domain.

    Plan: ONE shuffle aggregates per-user (first, last) day; all
    survival arithmetic then runs on the per-lifetime-day frame, whose
    cardinality is the observation span in DAYS — calendar-bounded
    (the monthly_revenue_running posture), not corpus-sized, so its
    two prefix windows are sanctioned.  Exactness: deaths / at-risk /
    censored counts are exact integers; each hazard factor's ln is
    quantized to integer 1e-8 units immediately (one libm call per
    DISTINCT LIFETIME DAY — the bigram_logprob idiom), the cumulative
    hazard is an exact integer sum, and the final exp is a single
    value-determined double rounded to 6.
    """
    e = table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("f"), F.max(F.to_date("ts")).alias("l")
    )
    end = pu.agg(F.max("l").alias("e"))
    lived = pu.crossJoin(F.broadcast(end)).select(
        F.datediff("l", "f").alias("t_days"),
        (F.datediff("e", "l") >= 7).cast("int").alias("churned"),
    )
    lt = lived.groupBy("t_days").agg(
        F.sum("churned").alias("deaths"),
        F.sum(F.lit(1) - F.col("churned")).alias("censored"),
    )
    tot = lived.agg(F.count(F.lit(1)).alias("n"))
    w_prior = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    risk = lt.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "deaths",
        "censored",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("deaths") + F.col("censored")).over(w_prior), F.lit(0)
            )
        ).alias("at_risk"),
    )
    fac = risk.select(
        "t_days",
        "deaths",
        "censored",
        "at_risk",
        F.when(
            F.col("deaths") < F.col("at_risk"),
            F.round(
                F.log(
                    (F.col("at_risk") - F.col("deaths")).cast("double")
                    / F.col("at_risk")
                )
                * 100_000_000,
                0,
            ).cast("long"),
        )
        # everyone at risk dies: S hits exactly 0; a -1e12 hazard makes
        # exp underflow to +0.0 deterministically on both engines
        .otherwise(F.lit(-1_000_000_000_000)).alias("li"),
    )
    w_cum = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    return fac.select(
        "t_days",
        F.col("at_risk").cast("long").alias("at_risk"),
        F.col("deaths").cast("long").alias("deaths"),
        F.col("censored").cast("long").alias("censored"),
        F.round(
            F.exp(F.sum("li").over(w_cum).cast("double") / F.lit(1.0e8)), 6
        ).alias("survival"),
    ).orderBy("t_days")


ORACLE_KAPLAN_MEIER_RETENTION = """
WITH pu AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
  FROM events GROUP BY 1
), endd AS (SELECT MAX(l) AS e FROM pu),
lived AS (
  SELECT date_diff('day', f, l) AS t_days,
         CASE WHEN date_diff('day', l, e) >= 7 THEN 1 ELSE 0 END AS churned
  FROM pu CROSS JOIN endd
), lt AS (
  SELECT t_days, CAST(SUM(churned) AS BIGINT) AS deaths,
         CAST(SUM(1 - churned) AS BIGINT) AS censored
  FROM lived GROUP BY 1
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lived),
risk AS (
  SELECT t_days, deaths, censored,
         n - COALESCE(SUM(deaths + censored) OVER (
               ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS at_risk
  FROM lt CROSS JOIN tot
), fac AS (
  SELECT t_days, deaths, censored, at_risk,
         CASE WHEN deaths < at_risk
              THEN CAST(ROUND(ln((at_risk - deaths) * 1.0 / at_risk)
                              * 100000000, 0) AS BIGINT)
              ELSE -1000000000000 END AS li
  FROM risk
)
SELECT t_days, CAST(at_risk AS BIGINT) AS at_risk, deaths, censored,
       ROUND(exp(CAST(SUM(li) OVER (
               ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS DOUBLE) / 100000000.0), 6) AS survival
FROM fac ORDER BY t_days
"""


def theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily order revenue: the MEDIAN of all
    pairwise day-to-day slopes, with the matching median intercept and
    the OLS slope for contrast — the estimator of record when a
    revenue series carries outlier days (a single flash-sale day drags
    an OLS fit; the pairwise-slope median has a 29% breakdown point
    and ignores it).

    Scale posture: ONE partial-agg shuffle reduces the fact table to
    the per-day revenue frame (exact integer cents); the pairwise
    stage is a self-join of that CALENDAR-sized frame with itself
    (days²/2 ≈ 2.9 M slope rows here) — bounded by the observation
    span, never the corpus, so the broadcast nested-loop the `<`
    condition produces is the right plan at any corpus size.  The
    single-group exact medians hold O(distinct slopes) aggregate
    state, likewise calendar²-bounded.

    Exactness: daily cents are exact BIGINTs; each slope is one IEEE
    double division of exact integers, micro-truncated immediately
    (the _micro idiom), so both medians interpolate over identical
    integer multisets; every derived double (slope/intercept in
    dollars, the OLS normal-equation arithmetic over exact decimal
    moments) is written operation-for-operation identically in the
    oracle.  Integer bounds: day·cents products stay < 2^63 up to
    ~1e14 cents/day (a ~$1 T/day business) — documented, not silent
    (the sums themselves fold in DECIMAL).
    """
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
        .select(
            F.datediff(
                "d", F.to_date(F.lit("1995-01-01"), "yyyy-MM-dd")
            ).alias("day"),
            "cents",
        )
    )
    # explicit fan-out: AQE coalesces the ~2.4k-row frame to one
    # partition, serializing the days²/2 pair expansion into a single
    # task (~10 s); a user repartition is exempt from coalescing, so
    # the nested-loop probe runs 32-wide (measured 10.1 s → ~1.3 s)
    a, b = daily.repartition(32).alias("a"), daily.alias("b")
    dd = (F.col("b.day") - F.col("a.day")).cast("double")
    # the when() guard is load-bearing, not defensive: whole-stage
    # codegen fuses this projection into the BNLJ consume path where
    # ANSI division can evaluate before the join condition discards
    # the day==day pair (observed DIVIDE_BY_ZERO); condition rows
    # always have dd > 0, so the branch never yields NULL downstream
    # r12: materialize the slope frame — exact_median's three passes
    # (min/max/count, bucket counts, target-bucket pick) would each
    # re-run the pair join otherwise; the frame is calendar²-bounded
    # (days²/2 longs ≈ 2.9 M at ANY corpus size), so the checkpoint is
    # observation-span-sized, never corpus-sized
    slopes = pin(a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.when(
            dd > 0,
            _micro((F.col("b.cents") - F.col("a.cents")).cast("double") / dd),
        ).alias("slope_q")
    ))
    # distributed exact median (operators/quantiles.exact_median): a
    # single F.median over the 2.9 M-row slope frame funnels every
    # value through one merged aggregation buffer (measured 8.4 s);
    # the two-level bucket rank computes the identical interpolated
    # value in ~1 s with nothing row-count-sized on one task
    from data_ingestion_project_spark.operators.quantiles import exact_median

    med = exact_median(slopes, "slope_q").select(
        F.col("median").alias("m_q"), F.col("n").alias("n_pairs")
    )
    resid = daily.crossJoin(F.broadcast(med)).select(
        "m_q",
        "n_pairs",
        _micro(
            F.col("cents").cast("double")
            - (F.col("m_q") / F.lit(float(_M))) * F.col("day").cast("double")
        ).alias("resid_q"),
    )
    sen = resid.groupBy("m_q", "n_pairs").agg(
        F.median("resid_q").alias("b_q"), F.count(F.lit(1)).alias("n_days")
    )
    mom = daily.agg(
        F.sum(F.col("day").cast(_DEC)).alias("sx"),
        F.sum((F.col("day") * F.col("day")).cast(_DEC)).alias("sxx"),
        F.sum(F.col("cents").cast(_DEC)).alias("sy"),
        F.sum((F.col("day") * F.col("cents")).cast(_DEC)).alias("sxy"),
        F.count(F.lit(1)).alias("n"),
    )
    ols = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return sen.crossJoin(F.broadcast(mom)).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        _floor_round(F.col("m_q") / F.lit(float(_M)) / F.lit(100.0), 4).alias(
            "sen_slope_usd_day"
        ),
        _floor_round(F.col("b_q") / F.lit(float(_M)) / F.lit(100.0), 2).alias(
            "sen_intercept_usd"
        ),
        _floor_round(ols / F.lit(100.0), 4).alias("ols_slope_usd_day"),
    )


ORACLE_THEIL_SEN_REVENUE_TREND = """
WITH daily AS (
  -- trunc BEFORE the BIGINT cast: o_totalprice is a raw double and
  -- DuckDB's double->int cast ROUNDS while Spark's truncates
  SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day,
         CAST(SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), slopes AS (
  SELECT CAST(trunc(
           (CAST(b.cents - a.cents AS DOUBLE)
            / CAST(b.day - a.day AS DOUBLE)) * 1000000) AS BIGINT) AS slope_q
  FROM daily a JOIN daily b ON a.day < b.day
), med AS (
  SELECT median(slope_q) AS m_q, COUNT(*) AS n_pairs FROM slopes
), resid AS (
  SELECT m_q, n_pairs,
         CAST(trunc(
           (CAST(cents AS DOUBLE)
            - (m_q / 1000000.0) * CAST(day AS DOUBLE)) * 1000000) AS BIGINT)
           AS resid_q
  FROM daily CROSS JOIN med
), sen AS (
  SELECT m_q, n_pairs, median(resid_q) AS b_q, COUNT(*) AS n_days
  FROM resid GROUP BY m_q, n_pairs
), mom AS (
  SELECT SUM(CAST(day AS DECIMAL(28,0))) AS sx,
         SUM(CAST(day * day AS DECIMAL(28,0))) AS sxx,
         SUM(CAST(cents AS DECIMAL(28,0))) AS sy,
         SUM(CAST(day * cents AS DECIMAL(28,0))) AS sxy,
         COUNT(*) AS n
  FROM daily
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       sign(m_q / 1000000.0 / 100.0)
         * floor(abs(m_q / 1000000.0 / 100.0) * 10000.0 + 0.5) / 10000.0
         AS sen_slope_usd_day,
       sign(b_q / 1000000.0 / 100.0)
         * floor(abs(b_q / 1000000.0 / 100.0) * 100.0 + 0.5) / 100.0
         AS sen_intercept_usd,
       sign(ols_d / 100.0)
         * floor(abs(ols_d / 100.0) * 10000.0 + 0.5) / 10000.0
         AS ols_slope_usd_day
FROM (
  SELECT n_days, n_pairs, m_q, b_q,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS ols_d
  FROM sen CROSS JOIN mom
) t
"""


def cusum_revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily order revenue: the day k
    maximizing |S_k|, S_k = Σ_{i≤k}(y_i − ȳ) — the standard offline
    single-changepoint locator (argmax-CUSUM is the least-squares
    mean-shift estimate), with the level before/after and the shift.
    The monitoring companion to the seasonal/anomaly family: those
    flag individual outlier days, this finds the structural break.

    Exactness: the whole statistic stays in EXACT integer domain by
    clearing the denominator — T_k = n·cum_k − k·total (cents·days
    units, folded in DECIMAL so 100 TB magnitudes cannot wrap);
    argmax(|T_k|) == argmax(|S_k|) since n > 0, with an earliest-day
    tie-break.  Derived dollar figures are single double divisions of
    exact integers, floor-rounded (_floor_round).

    Plan: ONE shuffle reduces the fact table to the per-day frame;
    the two prefix windows run over that CALENDAR-sized frame
    (sanctioned: observation-span cardinality, the
    monthly_revenue_running posture), and the argmax is a TakeOrdered
    top-1, never a global sort."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "d",
        F.sum(F.col("cents").cast(_DEC)).over(w).alias("cum"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    tot = daily.agg(
        F.sum(F.col("cents").cast(_DEC)).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    t = pre.crossJoin(F.broadcast(tot)).select(
        "d",
        "k",
        "cum",
        "total",
        "n",
        (
            F.col("cum") * F.col("n").cast(_DEC)
            - F.col("k").cast(_DEC) * F.col("total")
        ).alias("t_k"),
    )
    top = t.orderBy(F.abs(F.col("t_k")).desc(), F.col("d").asc()).limit(1)
    return top.select(
        F.date_format("d", "yyyy-MM-dd").alias("cp_date"),
        F.col("k").cast("long").alias("k_days"),
        F.col("n").cast("long").alias("n_days"),
        _floor_round(
            F.col("cum").cast("double") / F.col("k").cast("double") / F.lit(100.0), 4
        ).alias("mean_before_usd"),
        _floor_round(
            (F.col("total") - F.col("cum")).cast("double")
            / (F.col("n") - F.col("k")).cast("double")
            / F.lit(100.0),
            4,
        ).alias("mean_after_usd"),
        _floor_round(
            F.col("t_k").cast("double") / F.col("n").cast("double") / F.lit(100.0), 2
        ).alias("s_cusum_usd"),
    )


ORACLE_CUSUM_REVENUE_CHANGEPOINT = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), pre AS (
  SELECT d,
         SUM(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
         COUNT(*) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS k
  FROM daily
), tot AS (SELECT SUM(cents) AS total, COUNT(*) AS n FROM daily),
t AS (
  SELECT d, k, cum, total, n, cum * n - k * total AS t_k
  FROM pre CROSS JOIN tot
), top AS (
  SELECT * FROM t ORDER BY abs(t_k) DESC, d ASC LIMIT 1
)
SELECT strftime(d, '%Y-%m-%d') AS cp_date,
       CAST(k AS BIGINT) AS k_days,
       CAST(n AS BIGINT) AS n_days,
       sign(m_b) * floor(abs(m_b) * 10000.0 + 0.5) / 10000.0 AS mean_before_usd,
       sign(m_a) * floor(abs(m_a) * 10000.0 + 0.5) / 10000.0 AS mean_after_usd,
       sign(s_c) * floor(abs(s_c) * 100.0 + 0.5) / 100.0 AS s_cusum_usd
FROM (
  SELECT d, k, n,
         CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) / 100.0 AS m_b,
         CAST(total - cum AS DOUBLE) / CAST(n - k AS DOUBLE) / 100.0 AS m_a,
         CAST(t_k AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS s_c
  FROM top
) x
"""


def revenue_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown + annualized log-return volatility of the
    daily revenue series — the financial-time-series risk pair
    (how far below its running peak did revenue fall, and how noisy
    is the day-to-day series): peak/trough dates and levels, the
    drawdown fraction, and stddev(ln y_k/y_{k-1})·√365.

    Exactness: daily cents are exact BIGINTs, so the running peak and
    the (peak − y) numerator are exact; the drawdown fraction is one
    IEEE division (argmax over it is deterministic, earliest-day
    tie-break).  Each log return is quantized to integer 1e-8 units
    at its single libm call (the KM hazard idiom); the variance folds
    the quantized integers exactly (squares in DECIMAL — 2400 days of
    ~2e8-unit returns overflow int64), and the final sqrt is a single
    correctly-rounded IEEE operation both engines share.

    Plan: ONE shuffle to the per-day frame; prefix-max and lag windows
    run over that CALENDAR-sized frame (sanctioned); trough selection
    is TakeOrdered top-1 and the peak date a broadcast join back —
    nothing after the first aggregation grows with the corpus."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    w_peak = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_lag = Window.orderBy("d")
    cur = pin(daily.select(
        "d",
        "cents",
        F.max("cents").over(w_peak).alias("peak"),
        F.lag("cents").over(w_lag).alias("prev"),
    ))
    trough = (
        cur.select(
            "d",
            "cents",
            "peak",
            (
                (F.col("peak") - F.col("cents")).cast("double")
                / F.col("peak").cast("double")
            ).alias("dd"),
        )
        .orderBy(F.col("dd").desc(), F.col("d").asc())
        .limit(1)
    )
    peak_day = (
        trough.alias("t")
        .join(
            daily.alias("x"),
            (F.col("x.cents") == F.col("t.peak")) & (F.col("x.d") <= F.col("t.d")),
        )
        .groupBy("t.d", "t.cents", "t.peak", "t.dd")
        .agg(F.min("x.d").alias("peak_d"))
    )
    li = F.round(
        F.log(F.col("cents").cast("double") / F.col("prev").cast("double"))
        * F.lit(1.0e8),
        0,
    ).cast("long")
    vol = (
        cur.filter(F.col("prev").isNotNull())
        .select(li.alias("li"))
        .agg(
            F.count(F.lit(1)).alias("nr"),
            F.sum(F.col("li").cast(_DEC)).alias("sl"),
            F.sum((F.col("li") * F.col("li")).cast(_DEC)).alias("sl2"),
        )
    )
    n = F.col("nr").cast("double")
    var = (
        F.col("sl2").cast("double") - F.col("sl").cast("double") * F.col("sl").cast("double") / n
    ) / (n - F.lit(1.0))
    daily_cnt = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        peak_day.crossJoin(F.broadcast(vol))
        .crossJoin(F.broadcast(daily_cnt))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.date_format("peak_d", "yyyy-MM-dd").alias("peak_date"),
            F.date_format("t.d", "yyyy-MM-dd").alias("trough_date"),
            _floor_round(F.col("t.peak").cast("double") / F.lit(100.0), 2).alias(
                "peak_usd"
            ),
            _floor_round(F.col("t.cents").cast("double") / F.lit(100.0), 2).alias(
                "trough_usd"
            ),
            _floor_round(F.col("t.dd"), 6).alias("max_drawdown"),
            _floor_round(
                F.sqrt(var) / F.lit(1.0e8) * F.sqrt(F.lit(365.0)), 6
            ).alias("ann_volatility"),
        )
    )


ORACLE_REVENUE_DRAWDOWN = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), cur AS (
  SELECT d, cents,
         MAX(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS peak,
         LAG(cents) OVER (ORDER BY d) AS prev
  FROM daily
), trough AS (
  SELECT d, cents, peak,
         CAST(peak - cents AS DOUBLE) / CAST(peak AS DOUBLE) AS dd
  FROM cur ORDER BY dd DESC, d ASC LIMIT 1
), peakd AS (
  SELECT t.d, t.cents, t.peak, t.dd, MIN(x.d) AS peak_d
  FROM trough t JOIN daily x ON x.cents = t.peak AND x.d <= t.d
  GROUP BY t.d, t.cents, t.peak, t.dd
), rets AS (
  SELECT CAST(ROUND(ln(CAST(cents AS DOUBLE) / CAST(prev AS DOUBLE)) * 1e8, 0)
              AS BIGINT) AS li
  FROM cur WHERE prev IS NOT NULL
), vol AS (
  SELECT COUNT(*) AS nr, SUM(li) AS sl, SUM(li * li) AS sl2 FROM rets
), nd AS (SELECT COUNT(*) AS n_days FROM daily)
SELECT CAST(n_days AS BIGINT) AS n_days,
       strftime(peak_d, '%Y-%m-%d') AS peak_date,
       strftime(d, '%Y-%m-%d') AS trough_date,
       sign(pu) * floor(abs(pu) * 100.0 + 0.5) / 100.0 AS peak_usd,
       sign(tu) * floor(abs(tu) * 100.0 + 0.5) / 100.0 AS trough_usd,
       sign(dd) * floor(abs(dd) * 1000000.0 + 0.5) / 1000000.0 AS max_drawdown,
       sign(av) * floor(abs(av) * 1000000.0 + 0.5) / 1000000.0 AS ann_volatility
FROM (
  SELECT n_days, peak_d, d, dd,
         CAST(peak AS DOUBLE) / 100.0 AS pu,
         CAST(cents AS DOUBLE) / 100.0 AS tu,
         sqrt((CAST(sl2 AS DOUBLE)
               - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nr AS DOUBLE))
              / (CAST(nr AS DOUBLE) - 1.0)) / 1e8 * sqrt(365.0) AS av
  FROM peakd CROSS JOIN vol CROSS JOIN nd
) x
"""


_BACKTEST_DAYS = 28


def forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-method backtest on daily revenue: hold out the last 28
    days, forecast each with (a) SEASONAL-NAIVE (the value one week
    earlier) and (b) NAIVE+DRIFT (last training value plus the mean
    training-period daily increment), and score MAE / RMSE / MAPE per
    method — the evaluation harness that tells a pipeline whether its
    fancy model actually beats the one-line baselines (the M-series
    competition lesson: often it does not).

    Exactness: daily cents exact; seasonal-naive errors are integer
    cent differences; drift forecasts are one double expression of
    exact integers (identical both engines); each error metric folds
    integer-quantized per-day terms (|e| exact cents; e² in DECIMAL;
    |e|/y micro-truncated), so the final divisions are
    value-determined.  Plan: one shuffle to the calendar-sized daily
    frame; the week-back lookup is a self equi-join on day−7 and the
    drift anchor a broadcast 1-row aggregate."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("dt"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    bounds = daily.agg(
        F.max("dt").alias("end"),
        F.date_sub(F.max("dt"), _BACKTEST_DAYS - 1).alias("cut"),
    )
    d = daily.crossJoin(F.broadcast(bounds))
    train = d.filter(F.col("dt") < F.col("cut"))
    test = d.filter(F.col("dt") >= F.col("cut")).select("dt", "cents", "cut")
    # anchor: last training day's value + mean daily increment over training
    anchor = (
        train.orderBy(F.col("dt").desc())
        .limit(1)
        .select(F.col("dt").alias("a_dt"), F.col("cents").alias("a_cents"))
    )
    first = (
        train.orderBy(F.col("dt").asc())
        .limit(1)
        .select(F.col("dt").alias("f_dt"), F.col("cents").alias("f_cents"))
    )
    drift = anchor.crossJoin(F.broadcast(first)).select(
        "a_dt",
        "a_cents",
        (
            (F.col("a_cents") - F.col("f_cents")).cast("double")
            / F.datediff("a_dt", "f_dt").cast("double")
        ).alias("slope"),
    )
    wk = daily.select(F.col("dt").alias("wk_dt"), F.col("cents").alias("wk_cents"))
    scored = (
        test.join(wk, F.col("wk_dt") == F.date_sub("dt", 7))
        .crossJoin(F.broadcast(drift))
        .select(
            "dt",
            "cents",
            F.col("wk_cents").cast("double").alias("f_seasonal"),
            (
                F.col("a_cents").cast("double")
                + F.col("slope") * F.datediff("dt", "a_dt").cast("double")
            ).alias("f_drift"),
        )
    )
    rows = []
    for method, fc in (("seasonal_naive", "f_seasonal"), ("drift", "f_drift")):
        e = F.col(fc) - F.col("cents").cast("double")
        rows.append(
            scored.select(
                F.lit(method).alias("method"),
                F.abs(e).cast("long").alias("ae"),
                # floor, not a straight decimal cast: double→decimal
                # rounds in Spark while the oracle truncates
                F.floor(e * e).cast("decimal(38,0)").alias("se"),
                _micro(F.abs(e) / F.col("cents").cast("double")).alias("ape"),
            )
            .groupBy("method")
            .agg(
                F.count(F.lit(1)).alias("n_days"),
                F.sum("ae").alias("sae"),
                F.sum("se").alias("sse"),
                F.sum("ape").alias("sape"),
            )
        )
    u = rows[0].unionByName(rows[1])
    n = F.col("n_days").cast("double")
    return u.select(
        "method",
        F.col("n_days").cast("long").alias("n_days"),
        _floor_round(F.col("sae").cast("double") / n / F.lit(100.0), 2).alias(
            "mae_usd"
        ),
        _floor_round(
            F.sqrt(F.col("sse").cast("double") / n) / F.lit(100.0), 2
        ).alias("rmse_usd"),
        _floor_round(F.col("sape").cast("double") / n / F.lit(float(_M)), 6).alias(
            "mape"
        ),
    ).orderBy("method")


ORACLE_FORECAST_BACKTEST = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS dt,
         CAST(SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), bounds AS (
  SELECT MAX(dt) AS e, MAX(dt) - {_BACKTEST_DAYS - 1} AS cut FROM daily
), train AS (
  SELECT d.* FROM daily d CROSS JOIN bounds WHERE d.dt < cut
), test AS (
  SELECT d.* FROM daily d CROSS JOIN bounds WHERE d.dt >= cut
), anchor AS (
  SELECT dt AS a_dt, cents AS a_cents FROM train ORDER BY dt DESC LIMIT 1
), first AS (
  SELECT dt AS f_dt, cents AS f_cents FROM train ORDER BY dt ASC LIMIT 1
), drift AS (
  SELECT a_dt, a_cents,
         CAST(a_cents - f_cents AS DOUBLE)
           / CAST(date_diff('day', f_dt, a_dt) AS DOUBLE) AS slope
  FROM anchor CROSS JOIN first
), scored AS (
  SELECT t.dt, t.cents,
         CAST(w.cents AS DOUBLE) AS f_seasonal,
         CAST(d.a_cents AS DOUBLE)
           + d.slope * CAST(date_diff('day', d.a_dt, t.dt) AS DOUBLE) AS f_drift
  FROM test t
  JOIN daily w ON w.dt = t.dt - 7
  CROSS JOIN drift d
), terms AS (
  SELECT 'seasonal_naive' AS method,
         CAST(trunc(abs(f_seasonal - CAST(cents AS DOUBLE))) AS BIGINT) AS ae,
         CAST(trunc((f_seasonal - CAST(cents AS DOUBLE))
                    * (f_seasonal - CAST(cents AS DOUBLE))) AS HUGEINT) AS se,
         CAST(trunc(abs(f_seasonal - CAST(cents AS DOUBLE))
                    / CAST(cents AS DOUBLE) * 1000000) AS BIGINT) AS ape
  FROM scored
  UNION ALL
  SELECT 'drift',
         CAST(trunc(abs(f_drift - CAST(cents AS DOUBLE))) AS BIGINT),
         CAST(trunc((f_drift - CAST(cents AS DOUBLE))
                    * (f_drift - CAST(cents AS DOUBLE))) AS HUGEINT),
         CAST(trunc(abs(f_drift - CAST(cents AS DOUBLE))
                    / CAST(cents AS DOUBLE) * 1000000) AS BIGINT)
  FROM scored
)
SELECT method, CAST(n_days AS BIGINT) AS n_days,
       sign(mae) * floor(abs(mae) * 100.0 + 0.5) / 100.0 AS mae_usd,
       sign(rmse) * floor(abs(rmse) * 100.0 + 0.5) / 100.0 AS rmse_usd,
       sign(mape) * floor(abs(mape) * 1000000.0 + 0.5) / 1000000.0 AS mape
FROM (
  SELECT method, COUNT(*) AS n_days,
         CAST(SUM(ae) AS DOUBLE) / COUNT(*) / 100.0 AS mae,
         sqrt(CAST(SUM(se) AS DOUBLE) / COUNT(*)) / 100.0 AS rmse,
         CAST(SUM(ape) AS DOUBLE) / COUNT(*) / 1000000.0 AS mape
  FROM terms GROUP BY 1
) x
ORDER BY method
"""


# ------------------------------------------- rank statistics (r8)


def spearman_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between lineitem quantity and
    extended price — the NONPARAMETRIC companion to the Pearson fit in
    regr_price_quantity: monotone association that no outlier or
    nonlinearity can fake, the robustness check a feature-screening
    pass runs next to every Pearson r.

    Exactness: mid-rank ties are handled with DOUBLED integer ranks
    (operators/quantiles.rank2_map: r2 = 2·#smaller + cnt + 1 — the
    only fraction the definition produces is the .5 of an even tie
    group, and doubling removes it), so all six moment sums (n, Σr2x,
    Σr2y, Σr2x·r2y, Σr2x², Σr2y²) fold EXACTLY in DECIMAL with every
    product cast-first; rho is then ONE value-determined IEEE
    combination of the six exact sums, spelled identically in DuckDB
    (n·Sxy−SxSy over the sqrt of the two variance terms — Pearson on
    ranks, the tie-correct general form of the 6Σd² shortcut).

    Scale: per-variable rank maps are the two-level bucket-prefix
    plan (value-domain-sized frames, nothing row-count-sized on one
    task — the exact_median posture); the joint (q, p) frequency table
    is one map-side-combined shuffle; at 100 TB everything downstream
    of the fact pass is value-domain-bounded.

    r13 (VERDICT r12 ask #4, guide §2.3): the r12 plan still JOINED
    the p-rank map back onto the joint frame (a jf-scale shuffle by p
    feeding a jf-scale triple-DECIMAL aggregation — the measured local
    cost of the r12 restructure).  The moments are now REGROUPED by p
    first: the tiny q-rank map (|q| ≈ 50 values) broadcasts into one
    groupBy(p) pass producing per-p partial moments (c, Σc·r2q,
    Σc·r2q²); p's own rank then derives INLINE over that p-domain
    frame with the same two-level bucket prefix, and all six sums fold
    over |p| rows instead of |jf| rows.  Pure regrouping of exact
    integer sums (addition is order-independent), so every moment —
    and rho — is bit-identical to the joined form (verified
    value-equal this round)."""
    from pyspark.sql.window import Window

    from data_ingestion_project_spark.operators.quantiles import rank2_map

    l = table(spark, sf_dir, "lineitem")
    base = l.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("p"),
    )
    # r12 (guide §2.3/§2.4): ONE fact-table pass.  The joint (q, p)
    # frequency table is value-domain²-bounded; both per-variable rank
    # maps derive from it via rank2_map's count_col mode (identical
    # per-value totals ⇒ identical ranks), where the old plan re-
    # scanned and re-shuffled lineitem once per rank map (3 scans).
    jf = pin(base.groupBy("q", "p").agg(F.count(F.lit(1)).alias("c")))
    rq = rank2_map(jf, "q", bucket_width=8, count_col="c").select(
        "q", F.col("r2").alias("r2q")
    )
    _d38 = "decimal(38,0)"
    c38, r2q38 = F.col("c").cast(_d38), F.col("r2q").cast(_d38)
    tp = pin(  # |p|-domain rows, two consumers
        jf.join(F.broadcast(rq), "q")
        .groupBy("p")
        .agg(
            F.sum("c").alias("c"),
            F.sum(c38 * r2q38).alias("cq"),
            F.sum(c38 * r2q38 * r2q38).alias("cq2"),
        )
        .withColumn("__b", F.floor(F.col("p") / F.lit(100_000)))
    )
    bp = tp.groupBy("__b").agg(F.sum("c").alias("__bc"))
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bp.select(
        "__b", F.coalesce(F.sum("__bc").over(wb), F.lit(0)).alias("__p")
    )
    wv = Window.partitionBy("__b").orderBy("p").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = tp.join(F.broadcast(prefix), "__b").select(
        "c",
        "cq",
        "cq2",
        (
            2 * (F.col("__p") + F.coalesce(F.sum("c").over(wv), F.lit(0)))
            + F.col("c")
            + 1
        ).alias("r2p"),
    )
    r2p38 = F.col("r2p").cast(_d38)
    m = ranked.agg(
        F.sum("c").alias("n"),
        F.sum("cq").cast(_d38).alias("sx"),
        F.sum(F.col("c").cast(_d38) * r2p38).alias("sy"),
        F.sum(r2p38 * F.col("cq")).alias("sxy"),
        F.sum("cq2").cast(_d38).alias("sxx"),
        F.sum(F.col("c").cast(_d38) * r2p38 * r2p38).alias("syy"),
    )
    # the exact DECIMAL sums are cast to double BEFORE the final
    # combination: n·Sxy would overflow even DECIMAL(38) near 1e10
    # rows, while the double combination is value-determined (same
    # six inputs, same op order) on both engines
    n_d = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    rho = (n_d * sxy - sx * sy) / F.sqrt(
        (n_d * sxx - sx * sx) * (n_d * syy - sy * sy)
    )
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        _floor_round(rho, 6).alias("rho_spearman"),
    )


_SQL_RANK2 = """
  SELECT {v} AS v, COUNT(*) AS c,
         2 * COALESCE(SUM(COUNT(*)) OVER (
               ORDER BY {v} ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0)
           + COUNT(*) + 1 AS r2
  FROM {src} GROUP BY {v}
"""

ORACLE_SPEARMAN_PRICE_QUANTITY = f"""
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p
  FROM lineitem
), rq AS ({_SQL_RANK2.format(v="q", src="base")}),
rp AS ({_SQL_RANK2.format(v="p", src="base")}),
jf AS (SELECT q, p, COUNT(*) AS c FROM base GROUP BY q, p),
m AS (
  SELECT SUM(jf.c) AS n,
         SUM(CAST(jf.c AS HUGEINT) * rq.r2) AS sx,
         SUM(CAST(jf.c AS HUGEINT) * rp.r2) AS sy,
         SUM(CAST(jf.c AS HUGEINT) * rq.r2 * rp.r2) AS sxy,
         SUM(CAST(jf.c AS HUGEINT) * rq.r2 * rq.r2) AS sxx,
         SUM(CAST(jf.c AS HUGEINT) * rp.r2 * rp.r2) AS syy
  FROM jf JOIN rq ON rq.v = jf.q JOIN rp ON rp.v = jf.p
)
SELECT CAST(n AS BIGINT) AS n_rows,
       sign((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
       * floor(abs((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
              * 1000000.0 + 0.5) / 1000000.0 AS rho_spearman
FROM m
"""


def mannwhitney_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: do purchase event
    values stochastically dominate click values? The nonparametric
    sibling of welch_event_values — rank-based, so heavy tails and
    outliers (exactly what event revenue has) cannot distort it.

    Exactness: values micro-quantize to int64 at the one fact pass;
    the COMBINED mid-rank map uses doubled integer ranks (rank2_map),
    so 2R₁ = Σ c₁(v)·r2(v) is an exact DECIMAL fold and
    U₁ = (2R₁ − n₁(n₁+1))/2 is exact in half-units; the tie-corrected
    normal approximation z = (U₁ − n₁n₂/2)/σ with
    σ² = n₁n₂/12·((N+1) − Σ(t³−t)/(N(N−1))) is one value-determined
    IEEE combination of exact integers (no continuity correction —
    documented, mirrored in the oracle). rank_biserial = 1 − 2U₁/n₁n₂
    is the effect size.

    Scale: identical posture to spearman_price_quantity — one
    conditional-count pass to the per-value frame, the two-level
    bucket-prefix rank map, then scalar arithmetic."""
    from data_ingestion_project_spark.operators.quantiles import rank2_map

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    base = e.select(
        to_micro(F.col("value")).alias("v"),
        (F.col("event_type") == "purchase").alias("is_p"),
    )
    ranks = rank2_map(base, "v", bucket_width=10_000_000)
    per = base.groupBy("v").agg(
        F.sum(F.when(F.col("is_p"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("is_p"), 0).otherwise(1)).alias("c2"),
    )
    _d38 = "decimal(38,0)"
    g = per.join(ranks, "v").agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1").cast(_d38) * F.col("r2").cast(_d38)).alias("r1x2"),
        F.sum(
            F.col("cnt").cast(_d38) * F.col("cnt").cast(_d38) * F.col("cnt").cast(_d38)
            - F.col("cnt").cast(_d38)
        ).alias("ties"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    nn = n1 + n2
    u2 = F.col("r1x2").cast("double") - n1 * (n1 + F.lit(1.0))  # = 2*U1
    u1 = u2 / F.lit(2.0)
    sigma = F.sqrt(
        n1 * n2 / F.lit(12.0)
        * ((nn + F.lit(1.0)) - F.col("ties").cast("double") / (nn * (nn - F.lit(1.0))))
    )
    z = (u1 - n1 * n2 / F.lit(2.0)) / sigma
    return g.select(
        F.col("n1").cast("long").alias("n_purchase"),
        F.col("n2").cast("long").alias("n_click"),
        _floor_round(u1, 1).alias("u_stat"),
        _floor_round(z, 6).alias("z_score"),
        _floor_round(F.lit(1.0) - u2 / (n1 * n2), 6).alias("rank_biserial"),
    )


ORACLE_MANNWHITNEY_EVENT_VALUES = f"""
WITH base AS (
  SELECT CAST(trunc(value * 1000000) AS BIGINT) AS v,
         event_type = 'purchase' AS is_p
  FROM events WHERE event_type IN ('purchase', 'click')
), ranks AS ({_SQL_RANK2.format(v="v", src="base")}),
per AS (
  SELECT v, SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS c2
  FROM base GROUP BY v
), g AS (
  SELECT SUM(c1) AS n1, SUM(c2) AS n2,
         SUM(CAST(c1 AS HUGEINT) * r2) AS r1x2,
         SUM(CAST(ranks.c AS HUGEINT) * ranks.c * ranks.c
             - CAST(ranks.c AS HUGEINT)) AS ties
  FROM per JOIN ranks ON ranks.v = per.v
), d AS (
  SELECT CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
         CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) AS u2,
         CAST(ties AS DOUBLE) AS tiesd
  FROM g
)
SELECT n1 AS n_purchase, n2 AS n_click,
       sign(u2 / 2.0) * floor(abs(u2 / 2.0) * 10.0 + 0.5) / 10.0 AS u_stat,
       sign((u2 / 2.0 - n1d * n2d / 2.0)
            / sqrt(n1d * n2d / 12.0
                   * ((n1d + n2d + 1.0)
                      - tiesd / ((n1d + n2d) * (n1d + n2d - 1.0)))))
       * floor(abs((u2 / 2.0 - n1d * n2d / 2.0)
                   / sqrt(n1d * n2d / 12.0
                          * ((n1d + n2d + 1.0)
                             - tiesd / ((n1d + n2d) * (n1d + n2d - 1.0)))))
              * 1000000.0 + 0.5) / 1000000.0 AS z_score,
       sign(1.0 - u2 / (n1d * n2d))
       * floor(abs(1.0 - u2 / (n1d * n2d)) * 1000000.0 + 0.5) / 1000000.0
         AS rank_biserial
FROM d
"""


def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between daily revenue and daily order count —
    the third rank-association member next to Spearman (which needs a
    global rank map) and Pearson (which needs moments): tau counts
    CONCORDANT vs DISCORDANT day pairs, so it is exact integer
    arithmetic end to end and robust to any monotone transformation
    of either series.

    Scale: the pairwise frame is the CALENDAR²-bounded per-day
    aggregate (the theil_sen posture — ~2.9 M pairs at 2.4 k days
    REGARDLESS of corpus size), explicitly repartitioned so AQE's
    one-partition coalesce can't serialize the pair expansion.
    Exactness: per-day revenue is an exact integer cents sum; all
    pair comparisons are integer sign products (never a value
    product — a cents-diff × count-diff int64 product would wrap at
    100 TB); tau-b's one division/sqrt runs on the exact counters,
    value-determined."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    a, b = daily.repartition(32).alias("a"), daily.alias("b")

    def _cmp(x, y):  # integer sign without a value product
        return F.when(x < y, F.lit(1)).when(x > y, F.lit(-1)).otherwise(F.lit(0))

    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        _cmp(F.col("a.cents"), F.col("b.cents")).alias("sx"),
        _cmp(F.col("a.n_orders"), F.col("b.n_orders")).alias("sy"),
    )
    g = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(F.col("sx") * F.col("sy") == 1, 1).otherwise(0)).alias("c"),
        F.sum(F.when(F.col("sx") * F.col("sy") == -1, 1).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("sx") == 0, 1).otherwise(0)).alias("tx"),
        F.sum(F.when(F.col("sy") == 0, 1).otherwise(0)).alias("ty"),
    )
    tau = (F.col("c") - F.col("d")).cast("double") / F.sqrt(
        (F.col("n0") - F.col("tx")).cast("double")
        * (F.col("n0") - F.col("ty")).cast("double")
    )
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return g.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        _floor_round(tau, 6).alias("tau_b"),
    )


ORACLE_KENDALL_TAU_DAILY = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
), pairs AS (
  SELECT CASE WHEN a.cents < b.cents THEN 1
              WHEN a.cents > b.cents THEN -1 ELSE 0 END AS sx,
         CASE WHEN a.n_orders < b.n_orders THEN 1
              WHEN a.n_orders > b.n_orders THEN -1 ELSE 0 END AS sy
  FROM daily a JOIN daily b ON a.d < b.d
), g AS (
  SELECT COUNT(*) AS n0,
         SUM(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS dd,
         SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS tx,
         SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS ty
  FROM pairs
), nd AS (SELECT COUNT(*) AS n_days FROM daily)
SELECT nd.n_days,
       CAST(n0 AS BIGINT) AS n_pairs,
       CAST(c AS BIGINT) AS concordant,
       CAST(dd AS BIGINT) AS discordant,
       sign(CAST(c - dd AS DOUBLE)
            / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)))
       * floor(abs(CAST(c - dd AS DOUBLE)
                   / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)))
              * 1000000.0 + 0.5) / 1000000.0 AS tau_b
FROM g CROSS JOIN nd
"""


def simpson_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector over the quantity→price relation:
    does the per-BRAND regression slope contradict the pooled slope?
    The aggregation-bias audit every observational analysis needs
    before trusting a pooled trend — a reversed stratum means the
    pooled number is a mix artifact, not a relationship.

    Plan: ONE lineitem⋈part pass to per-brand moment cells (n, Σx,
    Σy, Σxy, Σxx — brand-cardinality frame); the POOLED moments are
    the column sums of that same frame (zero extra scans); slope
    signs come from the exact integer numerator n·Σxy − Σx·Σy
    (cast-first DECIMAL — the denominator n·Σxx − Σx² is ≥ 0, so the
    numerator carries the sign alone, division-free). The one double
    division per reported slope is value-determined. Returns ONE row
    when at least one stratum reverses (with the strongest reversal
    named) and ZERO rows when no paradox exists — the empty result IS
    the clean bill of health, mirrored exactly by the oracle."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    _d38 = "decimal(38,0)"
    base = l.join(p, l["l_partkey"] == p["p_partkey"]).select(
        "p_brand",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    per = pin(
        base.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast(_d38)).alias("sx"),
            F.sum(F.col("y").cast(_d38)).alias("sy"),
            F.sum(F.col("x").cast(_d38) * F.col("y").cast(_d38)).alias("sxy"),
            F.sum(F.col("x").cast(_d38) * F.col("x").cast(_d38)).alias("sxx"),
        )
    )
    num = F.col("n").cast(_d38) * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n").cast(_d38) * F.col("sxx") - F.col("sx") * F.col("sx")
    slopes = per.select(
        "p_brand",
        "n",
        num.alias("num"),
        den.alias("den"),
        (num.cast("double") / den.cast("double") * F.lit(100.0)).alias("slope"),
    )
    pooled = per.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
        F.sum("sxx").alias("sxx"),
    ).select(
        num.alias("gnum"),
        (num.cast("double") / den.cast("double") * F.lit(100.0)).alias("gslope"),
    )
    joined = slopes.crossJoin(F.broadcast(pooled))
    rev = F.when(
        (F.col("num") > 0) & (F.col("gnum") < 0)
        | (F.col("num") < 0) & (F.col("gnum") > 0),
        1,
    ).otherwise(0)
    counts = joined.agg(
        F.count(F.lit(1)).alias("n_brands"),
        F.sum(rev).alias("n_reversed"),
    )
    top = (
        joined.filter(rev == 1)
        .orderBy(F.abs(F.col("slope")).desc(), F.col("p_brand").asc())
        .limit(1)
        .select(
            F.col("p_brand").alias("top_reversed_brand"),
            _floor_round(F.col("slope"), 6).alias("top_reversed_slope"),
            _floor_round(F.col("gslope"), 6).alias("pooled_slope"),
        )
    )
    return counts.crossJoin(F.broadcast(top)).select(
        "n_brands",
        F.col("n_reversed").cast("long").alias("n_reversed"),
        "pooled_slope",
        "top_reversed_brand",
        "top_reversed_slope",
    )


ORACLE_SIMPSON_PARADOX_AUDIT = """
WITH base AS (
  SELECT p_brand, CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
), per AS (
  SELECT p_brand, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM base GROUP BY 1
), slopes AS (
  SELECT p_brand,
         n * sxy - sx * sy AS num,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) * 100.0 AS slope
  FROM per
), pooled AS (
  SELECT n * sxy - sx * sy AS gnum,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) * 100.0 AS gslope
  FROM (
    SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
           SUM(sxy) AS sxy, SUM(sxx) AS sxx
    FROM per
  )
), joined AS (
  SELECT s.*, p.gnum, p.gslope,
         CASE WHEN (s.num > 0 AND p.gnum < 0)
                OR (s.num < 0 AND p.gnum > 0) THEN 1 ELSE 0 END AS rev
  FROM slopes s CROSS JOIN pooled p
), counts AS (
  SELECT COUNT(*) AS n_brands, SUM(rev) AS n_reversed FROM joined
), top AS (
  SELECT p_brand AS top_reversed_brand,
         sign(slope) * floor(abs(slope) * 1000000.0 + 0.5) / 1000000.0
           AS top_reversed_slope,
         sign(gslope) * floor(abs(gslope) * 1000000.0 + 0.5) / 1000000.0
           AS pooled_slope
  FROM joined WHERE rev = 1
  ORDER BY abs(slope) DESC, p_brand ASC LIMIT 1
)
SELECT n_brands, CAST(n_reversed AS BIGINT) AS n_reversed,
       pooled_slope, top_reversed_brand, top_reversed_slope
FROM counts CROSS JOIN top
"""


def ols_multivariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression price ~ quantity + discount by the
    NORMAL EQUATIONS, solved in closed form with Cramer's rule — the
    multivariate extension of regr_price_quantity (which fits one
    regressor): does discount carry price signal once quantity is
    controlled for?  The moments-then-solve shape is THE distributed
    regression design (Spark MLlib's own normal-equation solver): the
    corpus contributes only a fixed set of sufficient statistics, and
    the solve happens on that tiny frame.

    Plan: ONE lineitem pass folds the 10 moment cells (n, Σx₁, Σx₂,
    Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y, Σy²) as exact integers
    (prices in cents, discounts in integer percent; products cast to
    DECIMAL(38,0) factor-first); the 3×3 Cramer determinants and R²
    are value-determined double expressions over those exact sums —
    written term-for-term identically in the oracle, so the fit is
    bit-reproducible. Nothing after the one shuffle depends on corpus
    size."""
    l = table(spark, sf_dir, "lineitem")
    _d38 = "decimal(38,0)"
    base = l.select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )

    def _c(c):
        return F.col(c).cast(_d38)

    m = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_c("x1")).alias("s1"),
        F.sum(_c("x2")).alias("s2"),
        F.sum(_c("y")).alias("sy"),
        F.sum(_c("x1") * _c("x1")).alias("s11"),
        F.sum(_c("x2") * _c("x2")).alias("s22"),
        F.sum(_c("x1") * _c("x2")).alias("s12"),
        F.sum(_c("x1") * _c("y")).alias("s1y"),
        F.sum(_c("x2") * _c("y")).alias("s2y"),
        F.sum(_c("y") * _c("y")).alias("syy"),
    )
    # every symbol below is the exact integer moment cast ONCE to
    # double; the determinant expansions are then fixed-shape IEEE
    # expressions (same operation tree both engines => bit-equal)
    d = {
        k: F.col(k).cast("double")
        for k in ("n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y", "syy")
    }

    def det3(a1, a2, a3, b1, b2, b3, c1, c2, c3):
        return (
            a1 * (b2 * c3 - b3 * c2)
            - a2 * (b1 * c3 - b3 * c1)
            + a3 * (b1 * c2 - b2 * c1)
        )

    dd = det3(d["n"], d["s1"], d["s2"], d["s1"], d["s11"], d["s12"], d["s2"], d["s12"], d["s22"])
    d0 = det3(d["sy"], d["s1"], d["s2"], d["s1y"], d["s11"], d["s12"], d["s2y"], d["s12"], d["s22"])
    d1 = det3(d["n"], d["sy"], d["s2"], d["s1"], d["s1y"], d["s12"], d["s2"], d["s2y"], d["s22"])
    d2 = det3(d["n"], d["s1"], d["sy"], d["s1"], d["s11"], d["s1y"], d["s2"], d["s12"], d["s2y"])
    b0, b1, b2 = d0 / dd, d1 / dd, d2 / dd
    sse = d["syy"] - b0 * d["sy"] - b1 * d["s1y"] - b2 * d["s2y"]
    sst = d["syy"] - d["sy"] * d["sy"] / d["n"]
    return m.select(
        F.col("n").cast("long").alias("n"),
        _floor_round(b0 / F.lit(100.0), 6).alias("intercept"),
        _floor_round(b1 / F.lit(100.0), 6).alias("beta_quantity"),
        _floor_round(b2 / F.lit(100.0), 6).alias("beta_discount_pct"),
        _floor_round(F.lit(1.0) - sse / sst, 6).alias("r2"),
    )


def _sql_det3(a1, a2, a3, b1, b2, b3, c1, c2, c3) -> str:
    return (
        f"({a1} * ({b2} * {c3} - {b3} * {c2})"
        f" - {a2} * ({b1} * {c3} - {b3} * {c1})"
        f" + {a3} * ({b1} * {c2} - {b2} * {c1}))"
    )


def _oracle_ols_multivariate() -> str:
    d = {k: f"CAST({k} AS DOUBLE)" for k in (
        "n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y", "syy"
    )}
    dd = _sql_det3(d["n"], d["s1"], d["s2"], d["s1"], d["s11"], d["s12"], d["s2"], d["s12"], d["s22"])
    d0 = _sql_det3(d["sy"], d["s1"], d["s2"], d["s1y"], d["s11"], d["s12"], d["s2y"], d["s12"], d["s22"])
    d1 = _sql_det3(d["n"], d["sy"], d["s2"], d["s1"], d["s1y"], d["s12"], d["s2"], d["s2y"], d["s22"])
    d2 = _sql_det3(d["n"], d["s1"], d["sy"], d["s1"], d["s11"], d["s1y"], d["s2"], d["s12"], d["s2y"])
    b0, b1, b2 = f"({d0} / {dd})", f"({d1} / {dd})", f"({d2} / {dd})"
    sse = f"({d['syy']} - {b0} * {d['sy']} - {b1} * {d['s1y']} - {b2} * {d['s2y']})"
    sst = f"({d['syy']} - {d['sy']} * {d['sy']} / {d['n']})"

    def rnd(expr, scale):
        return (
            f"sign({expr}) * floor(abs({expr}) * {10**scale}.0 + 0.5)"
            f" / {10**scale}.0"
        )

    return f"""
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS x1,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem
), m AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x1 AS HUGEINT)) AS s1, SUM(CAST(x2 AS HUGEINT)) AS s2,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
         SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
         SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
         SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
         SUM(CAST(x2 AS HUGEINT) * y) AS s2y,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM base
)
SELECT CAST(n AS BIGINT) AS n,
       {rnd(f"({b0} / 100.0)", 6)} AS intercept,
       {rnd(f"({b1} / 100.0)", 6)} AS beta_quantity,
       {rnd(f"({b2} / 100.0)", 6)} AS beta_discount_pct,
       {rnd(f"(1.0 - {sse} / {sst})", 6)} AS r2
FROM m
"""


ORACLE_OLS_MULTIVARIATE = _oracle_ols_multivariate()


def cmh_stratified_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Mantel–Haenszel test of the discount→return association
    STRATIFIED by brand — the formal companion to
    simpson_paradox_audit: where the Simpson audit flags strata whose
    trend reverses the pooled one, CMH answers the follow-up question
    correctly (is there a common association after controlling for
    the stratifier?), plus the Mantel–Haenszel pooled odds ratio the
    naive collapsed 2×2 gets wrong whenever strata differ in mix.

    Plan: ONE lineitem⋈part pass to per-brand 2×2 cells (exposure =
    discount ≥ 5%, outcome = returned) — a brand-cardinality frame;
    each stratum's expectation E_k, hypergeometric variance V_k and
    MH numerator/denominator terms are per-stratum value-determined
    doubles quantized to integer micro-units before the cross-stratum
    fold (order-independent), with every cell product cast
    DECIMAL(38,0) factor-first (an (a+b)(c+d) product wraps int64 at
    ~3e9-row strata). The collapsed pooled OR is reported alongside
    the MH OR — their gap IS the confounding."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    _d38 = "decimal(38,0)"
    cells = (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .select(
            "p_brand",
            F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("exp"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(F.expr("CASE WHEN exp = 1 AND ret = 1 THEN 1 ELSE 0 END")).alias("a"),
            F.sum(F.expr("CASE WHEN exp = 1 AND ret = 0 THEN 1 ELSE 0 END")).alias("b"),
            F.sum(F.expr("CASE WHEN exp = 0 AND ret = 1 THEN 1 ELSE 0 END")).alias("c"),
            F.sum(F.expr("CASE WHEN exp = 0 AND ret = 0 THEN 1 ELSE 0 END")).alias("d"),
        )
    )

    def _p(x, y):  # decimal cast-first product
        return F.col(x).cast(_d38) * F.col(y).cast(_d38)

    nk = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast(_d38)
    e_k = (
        (F.col("a") + F.col("b")).cast(_d38) * (F.col("a") + F.col("c")).cast(_d38)
    ).cast("double") / nk.cast("double")
    v_k = (
        (F.col("a") + F.col("b")).cast(_d38)
        * (F.col("c") + F.col("d")).cast(_d38)
    ).cast("double") * (
        (F.col("a") + F.col("c")).cast(_d38)
        * (F.col("b") + F.col("d")).cast(_d38)
    ).cast("double") / (
        nk.cast("double") * nk.cast("double") * (nk - 1).cast("double")
    )
    r_k = _p("a", "d").cast("double") / nk.cast("double")
    s_k = _p("b", "c").cast("double") / nk.cast("double")
    per = cells.select(
        "a", "b", "c", "d",
        _micro(e_k).alias("e_i"),
        _micro(v_k).alias("v_i"),
        _micro(r_k).alias("r_i"),
        _micro(s_k).alias("s_i"),
    )
    g = per.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("a").alias("sum_a"),
        F.sum(F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n_total"),
        F.sum(F.col("e_i").cast(_d38)).alias("se"),
        F.sum(F.col("v_i").cast(_d38)).alias("sv"),
        F.sum(F.col("r_i").cast(_d38)).alias("sr"),
        F.sum(F.col("s_i").cast(_d38)).alias("ss"),
        # collapsed (confounded) 2x2 for contrast
        F.sum(F.col("a").cast(_d38)).alias("ca"),
        F.sum(F.col("b").cast(_d38)).alias("cb"),
        F.sum(F.col("c").cast(_d38)).alias("cc"),
        F.sum(F.col("d").cast(_d38)).alias("cd"),
    )
    dev = F.col("sum_a").cast("double") - F.col("se").cast("double") / F.lit(float(_M))
    chi2 = dev * dev / (F.col("sv").cast("double") / F.lit(float(_M)))
    or_mh = F.col("sr").cast("double") / F.col("ss").cast("double")
    or_pooled = (F.col("ca") * F.col("cd")).cast("double") / (
        F.col("cb") * F.col("cc")
    ).cast("double")
    return g.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("n_total").cast("long").alias("n_total"),
        F.col("sum_a").cast("long").alias("sum_exposed_returned"),
        _floor_round(chi2, 6).alias("chi2_cmh"),
        _floor_round(or_mh, 6).alias("or_mantel_haenszel"),
        _floor_round(or_pooled, 6).alias("or_pooled_naive"),
    )


ORACLE_CMH_STRATIFIED_TEST = """
WITH cells AS (
  SELECT p_brand,
         SUM(CASE WHEN l_discount >= 0.05 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN l_discount >= 0.05 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN l_discount < 0.05 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN l_discount < 0.05 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS d
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
), per AS (
  SELECT a, b, c, d,
         CAST(trunc(CAST(CAST(a + b AS HUGEINT) * (a + c) AS DOUBLE)
                    / CAST(CAST(a + b + c + d AS HUGEINT) AS DOUBLE)
                    * 1000000) AS BIGINT) AS e_i,
         CAST(trunc(CAST(CAST(a + b AS HUGEINT) * (c + d) AS DOUBLE)
                    * CAST(CAST(a + c AS HUGEINT) * (b + d) AS DOUBLE)
                    / (CAST(CAST(a + b + c + d AS HUGEINT) AS DOUBLE)
                       * CAST(CAST(a + b + c + d AS HUGEINT) AS DOUBLE)
                       * CAST(CAST(a + b + c + d AS HUGEINT) - 1 AS DOUBLE))
                    * 1000000) AS BIGINT) AS v_i,
         CAST(trunc(CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
                    / CAST(CAST(a + b + c + d AS HUGEINT) AS DOUBLE)
                    * 1000000) AS BIGINT) AS r_i,
         CAST(trunc(CAST(CAST(b AS HUGEINT) * c AS DOUBLE)
                    / CAST(CAST(a + b + c + d AS HUGEINT) AS DOUBLE)
                    * 1000000) AS BIGINT) AS s_i
  FROM cells
), g AS (
  SELECT COUNT(*) AS n_strata, SUM(a) AS sum_a,
         SUM(a + b + c + d) AS n_total,
         SUM(CAST(e_i AS HUGEINT)) AS se, SUM(CAST(v_i AS HUGEINT)) AS sv,
         SUM(CAST(r_i AS HUGEINT)) AS sr, SUM(CAST(s_i AS HUGEINT)) AS ss,
         SUM(CAST(a AS HUGEINT)) AS ca, SUM(CAST(b AS HUGEINT)) AS cb,
         SUM(CAST(c AS HUGEINT)) AS cc, SUM(CAST(d AS HUGEINT)) AS cd
  FROM per
)
SELECT CAST(n_strata AS BIGINT) AS n_strata,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(sum_a AS BIGINT) AS sum_exposed_returned,
       sign((CAST(sum_a AS DOUBLE) - CAST(se AS DOUBLE) / 1000000.0)
            * (CAST(sum_a AS DOUBLE) - CAST(se AS DOUBLE) / 1000000.0)
            / (CAST(sv AS DOUBLE) / 1000000.0))
       * floor(abs((CAST(sum_a AS DOUBLE) - CAST(se AS DOUBLE) / 1000000.0)
                   * (CAST(sum_a AS DOUBLE) - CAST(se AS DOUBLE) / 1000000.0)
                   / (CAST(sv AS DOUBLE) / 1000000.0)) * 1000000.0 + 0.5)
         / 1000000.0 AS chi2_cmh,
       sign(CAST(sr AS DOUBLE) / CAST(ss AS DOUBLE))
       * floor(abs(CAST(sr AS DOUBLE) / CAST(ss AS DOUBLE)) * 1000000.0 + 0.5)
         / 1000000.0 AS or_mantel_haenszel,
       sign(CAST(ca * cd AS DOUBLE) / CAST(cb * cc AS DOUBLE))
       * floor(abs(CAST(ca * cd AS DOUBLE) / CAST(cb * cc AS DOUBLE))
              * 1000000.0 + 0.5) / 1000000.0 AS or_pooled_naive
FROM g
"""


def kruskal_wallis_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H test: does event VALUE differ across ALL FIVE
    event types at once? The K-sample completion of the rank-test
    family — mannwhitney_event_values compares two groups; this is the
    nonparametric ANOVA (anova_event_values' rank-based twin) that
    survives the heavy tails event revenue actually has.

    H = (12/(N(N+1))) Σ_g R_g²/n_g − 3(N+1), tie-corrected by
    1 − Σ(t³−t)/(N³−N); ε² = (H − k + 1)/(N − k) is the effect size.

    Scale/exactness: one conditional-count pass to the per-(value,
    type) frame; mid-ranks come from the two-level bucket-prefix
    rank2_map (DOUBLED ranks stay exact integers through ties);
    2R_g = Σ c_g·r2 folds in DECIMAL. The per-group term is quantized
    in its NORMALIZED form 12·R_g²/(n_g·N·(N+1)) — bounded by ~4N, so
    its 1e-6 integer fits int64 to ~1e12 rows — NOT as the raw
    R_g²/n_g (which grows as N³ and wraps int64 at sf0.1 already; the
    bench caught exactly that). The k-term fold is then exact integer
    addition and the remaining H combination one IEEE expression."""
    from data_ingestion_project_spark.operators.quantiles import rank2_map

    e = table(spark, sf_dir, "events")
    base = e.select(to_micro(F.col("value")).alias("v"), "event_type")
    ranks = rank2_map(base, "v", bucket_width=10_000_000)
    per = base.groupBy("v", "event_type").agg(F.count(F.lit(1)).alias("c"))
    _d38 = "decimal(38,0)"
    grp = (
        per.join(ranks, "v")
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(F.col("c").cast(_d38) * F.col("r2").cast(_d38)).alias("r2_g"),
        )
    )
    ntot = grp.agg(F.sum("n_g").alias("n"))
    # NORMALIZED per-group term 12·(r2_g/2)²/(n_g·N·(N+1)) — bounded
    # by ~4N — quantized so the cross-group fold is exact integer
    # addition without the raw R² term's N³ blowup
    nd0 = F.col("n").cast("double")
    term = (
        F.lit(12.0)
        * (F.col("r2_g").cast("double") / F.lit(2.0))
        * (F.col("r2_g").cast("double") / F.lit(2.0))
        / F.col("n_g").cast("double")
        / (nd0 * (nd0 + F.lit(1.0)))
    )
    gq = grp.crossJoin(F.broadcast(ntot)).select(
        "event_type", "n_g", (term * F.lit(1.0e6)).cast("long").alias("t_i")
    )
    ties = ranks.agg(
        F.sum(
            F.col("cnt").cast(_d38) * F.col("cnt").cast(_d38) * F.col("cnt").cast(_d38)
            - F.col("cnt").cast(_d38)
        ).alias("ties")
    )
    g = gq.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum(F.col("t_i").cast(_d38)).alias("st"),
    ).crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    h = F.col("st").cast("double") / F.lit(1.0e6) - F.lit(3.0) * (nd + F.lit(1.0))
    corr = F.lit(1.0) - F.col("ties").cast("double") / (nd * nd * nd - nd)
    hc = h / corr
    return g.select(
        F.col("n").cast("long").alias("n_total"),
        F.col("k").cast("long").alias("n_groups"),
        _floor_round(h, 6).alias("h_stat"),
        _floor_round(hc, 6).alias("h_tie_corrected"),
        _floor_round((hc - kd + F.lit(1.0)) / (nd - kd), 6).alias("epsilon_sq"),
    )


ORACLE_KRUSKAL_WALLIS_EVENT_VALUES = f"""
WITH base AS (
  SELECT CAST(trunc(value * 1000000) AS BIGINT) AS v, event_type
  FROM events
), ranks AS ({{rank2}}),
per AS (
  SELECT v, event_type, COUNT(*) AS c FROM base GROUP BY 1, 2
), grp AS (
  SELECT per.event_type, SUM(per.c) AS n_g,
         SUM(CAST(per.c AS HUGEINT) * ranks.r2) AS r2_g
  FROM per JOIN ranks ON ranks.v = per.v
  GROUP BY 1
), ntot AS (SELECT SUM(n_g) AS n0 FROM grp),
gq AS (
  SELECT event_type, n_g,
         CAST(trunc(12.0 * (CAST(r2_g AS DOUBLE) / 2.0)
                    * (CAST(r2_g AS DOUBLE) / 2.0)
                    / CAST(n_g AS DOUBLE)
                    / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) + 1.0))
                    * 1000000.0) AS BIGINT) AS t_i
  FROM grp CROSS JOIN ntot
), tie AS (
  SELECT SUM(CAST(c AS HUGEINT) * c * c - CAST(c AS HUGEINT)) AS ties FROM ranks
), g AS (
  SELECT COUNT(*) AS k, SUM(n_g) AS n, SUM(CAST(t_i AS HUGEINT)) AS st
  FROM gq
), stats AS (
  SELECT n, k,
         CAST(st AS DOUBLE) / 1000000.0 - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
         1.0 - CAST(ties AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n AS DOUBLE)) AS corr
  FROM g CROSS JOIN tie
)
SELECT CAST(n AS BIGINT) AS n_total, CAST(k AS BIGINT) AS n_groups,
       sign(h) * floor(abs(h) * 1000000.0 + 0.5) / 1000000.0 AS h_stat,
       sign(h / corr) * floor(abs(h / corr) * 1000000.0 + 0.5) / 1000000.0
         AS h_tie_corrected,
       sign((h / corr - CAST(k AS DOUBLE) + 1.0)
            / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
       * floor(abs((h / corr - CAST(k AS DOUBLE) + 1.0)
                   / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) * 1000000.0 + 0.5)
         / 1000000.0 AS epsilon_sq
FROM stats
""".format(rank2=_SQL_RANK2.format(v="v", src="base"))


def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard curve of user lifetime — the
    hazard-domain sibling of kaplan_meier_retention (SAME lifetimes,
    SAME 7-day right-censoring rule): H(t) = Σ_{d≤t} deaths_d/risk_d
    with Poisson variance Σ deaths_d/risk_d², plus the Breslow
    survival exp(−H(t)) for direct comparison against the KM product
    estimator. Hazard is the quantity epidemiology and churn models
    regress on; KM's S(t) cannot be summed across strata, H(t) can.

    Plan/exactness: identical posture to KM — one per-user shuffle,
    then every window runs over the per-lifetime-day frame
    (calendar-bounded); each step's d/n and d/n² are value-determined
    doubles quantized to 1e-8 integers immediately, the cumulatives
    are exact integer prefix sums, and exp is one double call at
    output."""
    e = table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("f"), F.max(F.to_date("ts")).alias("l")
    )
    end = pu.agg(F.max("l").alias("e"))
    lived = pu.crossJoin(F.broadcast(end)).select(
        F.datediff("l", "f").alias("t_days"),
        (F.datediff("e", "l") >= 7).cast("int").alias("churned"),
    )
    lt = lived.groupBy("t_days").agg(
        F.sum("churned").alias("deaths"),
        F.sum(F.lit(1) - F.col("churned")).alias("censored"),
    )
    tot = lived.agg(F.count(F.lit(1)).alias("n"))
    w_prior = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    risk = lt.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "deaths",
        "censored",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("deaths") + F.col("censored")).over(w_prior), F.lit(0)
            )
        ).alias("at_risk"),
    )
    step = risk.select(
        "t_days",
        "deaths",
        "censored",
        "at_risk",
        F.round(
            F.col("deaths").cast("double") / F.col("at_risk") * F.lit(1.0e8), 0
        ).cast("long").alias("h_i"),
        F.round(
            F.col("deaths").cast("double")
            / (F.col("at_risk").cast("double") * F.col("at_risk").cast("double"))
            * F.lit(1.0e8),
            0,
        ).cast("long").alias("v_i"),
    )
    w_cum = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    ch = F.sum("h_i").over(w_cum).cast("double") / F.lit(1.0e8)
    cv = F.sum("v_i").over(w_cum).cast("double") / F.lit(1.0e8)
    return step.select(
        "t_days",
        F.col("at_risk").cast("long").alias("at_risk"),
        F.col("deaths").cast("long").alias("deaths"),
        F.col("censored").cast("long").alias("censored"),
        F.round(ch, 6).alias("cum_hazard"),
        F.round(cv, 8).alias("hazard_var"),
        F.round(F.exp(-ch), 6).alias("breslow_survival"),
    ).orderBy("t_days")


ORACLE_NELSON_AALEN_HAZARD = """
WITH pu AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
  FROM events GROUP BY 1
), e AS (SELECT MAX(l) AS e FROM pu),
lived AS (
  SELECT datediff('day', f, l) AS t_days,
         CASE WHEN datediff('day', l, e.e) >= 7 THEN 1 ELSE 0 END AS churned
  FROM pu CROSS JOIN e
), lt AS (
  SELECT t_days, SUM(churned) AS deaths, SUM(1 - churned) AS censored
  FROM lived GROUP BY 1
), tot AS (SELECT COUNT(*) AS n FROM lived),
risk AS (
  SELECT t_days, deaths, censored,
         n - COALESCE(SUM(deaths + censored) OVER (
               ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS at_risk
  FROM lt CROSS JOIN tot
), step AS (
  SELECT t_days, deaths, censored, at_risk,
         CAST(round(CAST(deaths AS DOUBLE) / at_risk * 1e8, 0) AS BIGINT) AS h_i,
         CAST(round(CAST(deaths AS DOUBLE)
                    / (CAST(at_risk AS DOUBLE) * CAST(at_risk AS DOUBLE))
                    * 1e8, 0) AS BIGINT) AS v_i
  FROM risk
)
SELECT t_days,
       CAST(at_risk AS BIGINT) AS at_risk,
       CAST(deaths AS BIGINT) AS deaths,
       CAST(censored AS BIGINT) AS censored,
       ROUND(CAST(SUM(h_i) OVER wc AS DOUBLE) / 1e8, 6) AS cum_hazard,
       ROUND(CAST(SUM(v_i) OVER wc AS DOUBLE) / 1e8, 8) AS hazard_var,
       ROUND(exp(-(CAST(SUM(h_i) OVER wc AS DOUBLE) / 1e8)), 6)
         AS breslow_survival
FROM step
WINDOW wc AS (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY t_days
"""


def hurst_exponent_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by RESCALED-RANGE (R/S)
    analysis (Hurst 1951, the Mandelbrot long-memory diagnostic):
    H ≈ 0.5 means the revenue series is a memoryless random walk,
    H > 0.5 persistent trends, H < 0.5 mean reversion — the
    long-memory census residual_autocorr (fixed small lags) cannot
    see. Blocks of m ∈ {8, 16, 32} consecutive days; per block,
    R = range of cumulative mean-deviations and S = population std;
    H = slope of log2(mean R/S) against log2 m, which for three
    evenly-spaced powers of two is EXACTLY (y₃₂ − y₈)/2 — no libm
    slope fit.

    Exactness: the within-block cumulative deviation is kept as the
    EXACT integer m·Σxₖ − j·S_block (scaling by the block size clears
    the mean's fraction), so R = (max−min)/m and
    S = √(m·Σx² − S²)/m give R/S = (max−min)/√(m·Σx²−S²) — one
    value-determined sqrt+division per block from exact integers.
    Per-block ratios quantize to 1e-6 before the per-m fold; log2 of
    the three means quantizes to 1e-6 immediately (the bigram ln
    idiom). Windows: day-index assignment is a prefix over the
    calendar-bounded per-day frame; the cumulative runs
    block-partitioned."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("x"))
    )
    w_idx = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    idx = daily.select(
        "d", "x", (F.coalesce(F.count(F.lit(1)).over(w_idx), F.lit(0))).alias("i")
    )
    _d38 = "decimal(38,0)"
    ms = spark.createDataFrame([(8,), (16,), (32,)], "m int")
    blk = idx.crossJoin(F.broadcast(ms)).select(
        "m",
        (F.col("i") / F.col("m")).cast("long").alias("b"),
        (F.col("i") % F.col("m")).alias("j"),
        "x",
    )
    per_b = blk.groupBy("m", "b").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("x").cast(_d38)).alias("sx"),
        F.sum(F.col("x").cast(_d38) * F.col("x").cast(_d38)).alias("sxx"),
    )
    w_blk = Window.partitionBy("m", "b").orderBy("j").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cums = blk.select(
        "m", "b", "j", F.sum(F.col("x").cast(_d38)).over(w_blk).alias("cx")
    )
    dev = (
        cums.join(per_b, ["m", "b"])
        .filter(F.col("cnt") == F.col("m"))  # full blocks only
        .select(
            "m",
            "b",
            "sx",
            "sxx",
            (
                F.col("cx") * F.col("m").cast(_d38)
                - (F.col("j") + 1).cast(_d38) * F.col("sx")
            ).alias("c_sc"),
        )
    )
    rs = (
        dev.groupBy("m", "b", "sx", "sxx")
        .agg((F.max("c_sc") - F.min("c_sc")).alias("r_sc"))
        .select(
            "m",
            (
                F.col("r_sc").cast("double")
                / F.sqrt(
                    (
                        F.col("m").cast(_d38) * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ).cast("double")
                )
            ).alias("rs"),
        )
        .select("m", (F.col("rs") * F.lit(1.0e6)).cast("long").alias("rs_q"))
    )
    per_m = rs.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        (
            F.sum(F.col("rs_q").cast(_d38)).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1.0e6)
        ).alias("mean_rs"),
    )
    lq = per_m.select(
        "m",
        "n_blocks",
        "mean_rs",
        F.round(F.log2("mean_rs") * F.lit(1.0e6), 0).cast("long").alias("l_q"),
    )
    ends = lq.agg(
        F.max(F.when(F.col("m") == 8, F.col("l_q"))).alias("l8"),
        F.max(F.when(F.col("m") == 32, F.col("l_q"))).alias("l32"),
    ).select(
        (
            (F.col("l32") - F.col("l8")).cast("double") / F.lit(2.0) / F.lit(1.0e6)
        ).alias("hurst")
    )
    return (
        lq.crossJoin(F.broadcast(ends))
        .select(
            F.col("m").cast("long").alias("m"),
            F.col("n_blocks").cast("long").alias("n_blocks"),
            _floor_round(F.col("mean_rs"), 6).alias("mean_rs"),
            _floor_round(F.col("hurst"), 6).alias("hurst"),
        )
        .orderBy("m")
    )


ORACLE_HURST_EXPONENT_RS = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS x
  FROM orders GROUP BY 1
), idx AS (
  SELECT d, x,
         COALESCE(COUNT(*) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS i
  FROM daily
), ms AS (SELECT unnest([8, 16, 32]) AS m),
blk AS (
  SELECT m, CAST(i // m AS BIGINT) AS b, i % m AS j, x
  FROM idx CROSS JOIN ms
), per_b AS (
  SELECT m, b, COUNT(*) AS cnt, SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM blk GROUP BY 1, 2
), cums AS (
  SELECT m, b, j,
         SUM(CAST(x AS HUGEINT)) OVER (PARTITION BY m, b ORDER BY j
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cx
  FROM blk
), dev AS (
  SELECT c.m, c.b, p.sx, p.sxx,
         c.cx * c.m - (c.j + 1) * p.sx AS c_sc
  FROM cums c JOIN per_b p ON p.m = c.m AND p.b = c.b
  WHERE p.cnt = c.m
), rs AS (
  SELECT m,
         CAST(trunc(CAST(MAX(c_sc) - MIN(c_sc) AS DOUBLE)
                    / sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS rs_q
  FROM dev GROUP BY m, b, sx, sxx
), per_m AS (
  SELECT m, COUNT(*) AS n_blocks,
         CAST(SUM(CAST(rs_q AS HUGEINT)) AS DOUBLE) / COUNT(*) / 1000000.0
           AS mean_rs
  FROM rs GROUP BY 1
), lq AS (
  SELECT m, n_blocks, mean_rs,
         CAST(round(log2(mean_rs) * 1000000.0, 0) AS BIGINT) AS l_q
  FROM per_m
), ends AS (
  SELECT CAST(MAX(CASE WHEN m = 32 THEN l_q END)
              - MAX(CASE WHEN m = 8 THEN l_q END) AS DOUBLE)
         / 2.0 / 1000000.0 AS hurst
  FROM lq
)
SELECT CAST(m AS BIGINT) AS m, CAST(n_blocks AS BIGINT) AS n_blocks,
       sign(mean_rs) * floor(abs(mean_rs) * 1000000.0 + 0.5) / 1000000.0
         AS mean_rs,
       sign(hurst) * floor(abs(hurst) * 1000000.0 + 0.5) / 1000000.0 AS hurst
FROM lq CROSS JOIN ends
ORDER BY m
"""


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the heavy-tail exponent of the per-customer
    ORDER COUNT distribution — the extreme-value-theory answer to "how
    heavy is the whale tail?" that moments cannot give (a Pareto tail
    with α ≤ 2 has no finite variance to estimate). α̂ = 1/H with
    H = (1/k)Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k=100 largest order
    counts; small α̂ = heavy tail = the skew the join_key_skew_audit
    detects, here quantified as a tail LAW.

    Plan: one per-customer count shuffle, then a TakeOrdered top-(k+1)
    — the only global ordering is limit-bounded, never a full sort.
    Exactness: counts are exact integers; each of the k ln-ratio terms
    quantizes to 1e-8 integers immediately (the KM idiom: one libm
    call per TOP-K member); H and α̂ are value-determined doubles over
    the exact integer sum."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("x"))
    nstat = per.agg(F.count(F.lit(1)).alias("n_customers"))
    k = 100
    top = pin(per.orderBy(F.col("x").desc(), F.col("o_custkey").asc()).limit(k + 1))
    xk1 = top.agg(F.min("x").alias("xk1"))
    terms = (
        top.crossJoin(F.broadcast(xk1))
        .filter(F.col("x") > F.col("xk1"))  # the k largest strictly above the pivot tie floor
        .select(
            F.round(
                F.log(F.col("x").cast("double") / F.col("xk1").cast("double"))
                * F.lit(1.0e8),
                0,
            ).cast("long").alias("t_q")
        )
    )
    g = terms.agg(
        F.count(F.lit(1)).alias("k_eff"),
        F.sum(F.col("t_q").cast("decimal(38,0)")).alias("st"),
    )
    h = (
        F.col("st").cast("double") / F.lit(1.0e8) / F.col("k_eff").cast("double")
    )
    return (
        g.crossJoin(F.broadcast(xk1))
        .crossJoin(F.broadcast(nstat))
        .select(
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("k_eff").cast("long").alias("k_used"),
            F.col("xk1").cast("long").alias("tail_threshold"),
            _floor_round(h, 6).alias("hill_h"),
            _floor_round(F.lit(1.0) / h, 6).alias("alpha_tail"),
        )
    )


ORACLE_HILL_TAIL_INDEX = """
WITH per AS (
  SELECT o_custkey, COUNT(*) AS x FROM orders GROUP BY 1
), nstat AS (SELECT COUNT(*) AS n_customers FROM per),
top AS (
  SELECT x FROM per ORDER BY x DESC, o_custkey ASC LIMIT 101
), xk1 AS (SELECT MIN(x) AS xk1 FROM top),
terms AS (
  SELECT CAST(round(ln(CAST(x AS DOUBLE) / CAST(xk1 AS DOUBLE)) * 1e8, 0)
              AS BIGINT) AS t_q
  FROM top CROSS JOIN xk1
  WHERE x > xk1
), g AS (
  SELECT COUNT(*) AS k_eff, SUM(CAST(t_q AS HUGEINT)) AS st FROM terms
)
SELECT CAST(n_customers AS BIGINT) AS n_customers,
       CAST(k_eff AS BIGINT) AS k_used,
       CAST(xk1 AS BIGINT) AS tail_threshold,
       sign(CAST(st AS DOUBLE) / 1e8 / k_eff)
       * floor(abs(CAST(st AS DOUBLE) / 1e8 / k_eff) * 1000000.0 + 0.5)
         / 1000000.0 AS hill_h,
       sign(1.0 / (CAST(st AS DOUBLE) / 1e8 / k_eff))
       * floor(abs(1.0 / (CAST(st AS DOUBLE) / 1e8 / k_eff)) * 1000000.0 + 0.5)
         / 1000000.0 AS alpha_tail
FROM g CROSS JOIN xk1 CROSS JOIN nstat
"""


def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix over the event stream's
    categorical facets — event_type × ISO weekday × 6-hour daypart,
    all three pairwise strengths in ONE query: V = √(χ²/(n·min(r−1,
    c−1))) normalizes chi-square onto [0,1] so facet pairs of
    DIFFERENT table shapes become comparable (chisq_event_dow reports
    one pair's raw statistic; this is the one-stop drift-audit grid a
    data-quality dashboard shows).

    Plan: ONE events pass to the 3-way (type, dow, daypart) cube —
    ≤ |types|·7·4 cells at any corpus size — then each pair's
    contingency table is a marginalization of that cube (zero extra
    fact scans). Exactness: the chisq_event_dow discipline per pair —
    expected counts from exact integer marginals (cast-first doubles),
    per-cell (O−E)²/E micro-quantized to int64, χ² the exact integer
    sum; V's sqrt is one value-determined double per pair."""
    e = table(spark, sf_dir, "events")
    cube = pin(
        e.groupBy(
            F.col("event_type").alias("t"),
            (F.expr("weekday(ts)") + F.lit(1)).alias("dw"),
            F.floor(F.hour("ts") / F.lit(6)).alias("hp"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def _pair(name: str, acol: str, bcol: str) -> DataFrame:
        cells = cube.groupBy(F.col(acol).alias("a"), F.col(bcol).alias("b")).agg(
            F.sum("c").alias("o")
        )
        ra = cells.groupBy("a").agg(F.sum("o").alias("rt"))
        cb = cells.groupBy("b").agg(F.sum("o").alias("ct"))
        tt = cells.agg(
            F.sum("o").alias("n"),
            F.count_distinct("a").alias("r"),
            F.count_distinct("b").alias("k"),
        )
        j = (
            cells.join(F.broadcast(ra), "a")
            .join(F.broadcast(cb), "b")
            .crossJoin(F.broadcast(tt))
        )
        exp_d = (
            F.col("rt").cast("double") * F.col("ct").cast("double")
        ) / F.col("n")
        diff = F.col("o").cast("double") - exp_d
        cellq = j.select(
            "n",
            "r",
            "k",
            _micro(diff * diff / exp_d).alias("cell_i"),
        )
        return cellq.groupBy("n", "r", "k").agg(
            F.sum(F.col("cell_i").cast("decimal(38,0)")).alias("chi_i")
        ).select(
            F.lit(name).alias("pair"),
            F.col("n").cast("long").alias("n"),
            ((F.col("r") - 1) * (F.col("k") - 1)).cast("long").alias("dof"),
            (F.col("chi_i").cast("double") / F.lit(float(_M))).alias("chi2_raw"),
            F.least(F.col("r") - 1, F.col("k") - 1).alias("mindim"),
        )

    pairs = (
        _pair("event_type:weekday", "t", "dw")
        .unionByName(_pair("event_type:daypart", "t", "hp"))
        .unionByName(_pair("weekday:daypart", "dw", "hp"))
    )
    v = F.sqrt(
        F.col("chi2_raw") / (F.col("n").cast("double") * F.col("mindim").cast("double"))
    )
    return pairs.select(
        "pair",
        "n",
        "dof",
        _floor_round(F.col("chi2_raw"), 4).alias("chi2"),
        _floor_round(v, 6).alias("cramers_v"),
    ).orderBy("pair")


def _oracle_cramers_pair(name: str, acol: str, bcol: str) -> str:
    return f"""
  SELECT '{name}' AS pair, n, CAST((r - 1) * (k - 1) AS BIGINT) AS dof,
         chi2_raw, mindim
  FROM (
    SELECT MAX(t.n) AS n, MAX(t.r) AS r, MAX(t.k) AS k,
           CAST(SUM(CAST(trunc((CAST(cells.o AS DOUBLE) - e.exp_d)
                               * (CAST(cells.o AS DOUBLE) - e.exp_d) / e.exp_d
                               * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0
             AS chi2_raw,
           least(MAX(t.r) - 1, MAX(t.k) - 1) AS mindim
    FROM (
      SELECT {acol} AS a, {bcol} AS b, SUM(c) AS o FROM cube GROUP BY 1, 2
    ) cells
    JOIN (SELECT {acol} AS a, SUM(c) AS rt FROM cube GROUP BY 1) ra USING (a)
    JOIN (SELECT {bcol} AS b, SUM(c) AS ct FROM cube GROUP BY 1) cb USING (b)
    CROSS JOIN (
      SELECT SUM(c) AS n, COUNT(DISTINCT {acol}) AS r,
             COUNT(DISTINCT {bcol}) AS k
      FROM cube
    ) t
    CROSS JOIN LATERAL (
      SELECT CAST(ra.rt AS DOUBLE) * CAST(cb.ct AS DOUBLE) / t.n AS exp_d
    ) e
  )"""


ORACLE_CRAMERS_V_MATRIX = f"""
WITH cube AS (
  SELECT event_type AS t, CAST(date_part('isodow', ts) AS INT) AS dw,
         CAST(date_part('hour', ts) // 6 AS BIGINT) AS hp,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2, 3
), pairs AS (
{_oracle_cramers_pair("event_type:weekday", "t", "dw")}
  UNION ALL
{_oracle_cramers_pair("event_type:daypart", "t", "hp")}
  UNION ALL
{_oracle_cramers_pair("weekday:daypart", "dw", "hp")}
)
SELECT pair, CAST(n AS BIGINT) AS n, dof,
       sign(chi2_raw) * floor(abs(chi2_raw) * 10000.0 + 0.5) / 10000.0 AS chi2,
       sign(sqrt(chi2_raw / (CAST(n AS DOUBLE) * mindim)))
       * floor(abs(sqrt(chi2_raw / (CAST(n AS DOUBLE) * mindim)))
              * 1000000.0 + 0.5) / 1000000.0 AS cramers_v
FROM pairs
ORDER BY pair
"""


def bhattacharyya_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bhattacharyya coefficient / Hellinger distance between every
    PAIR of market segments' account-balance distributions — the
    distribution-overlap grid (all C(5,2) pairs in one query) that
    answers "which segments are interchangeable and which are
    different populations?" — the multi-group completion of the
    two-sample drift tests (KS tests ONE split; this grids ALL pairs,
    and Hellinger is a proper metric so the grid is comparable).

    Plan: ONE customer pass to (segment, $100-bucket) counts — a
    value-domain-sized frame — then the 10 pairs are a bucket
    equi-join of that tiny frame. Exactness: counts exact; each
    bucket's √(c₁·c₂) is a value-determined IEEE sqrt of an exact
    product quantized to 1e-6 integers before the cross-bucket fold;
    BC = Σ√(c₁c₂)/√(n₁n₂) and Hellinger = √(1−BC) are one double
    expression per pair."""
    c = table(spark, sf_dir, "customer")
    _d38 = "decimal(38,0)"
    cells = pin(
        c.select(
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.round(F.col("c_acctbal") * 100, 0) / F.lit(10_000)).alias("b"),
        )
        .groupBy("seg", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cells.groupBy("seg").agg(F.sum("c").alias("n"))
    a = cells.select(F.col("seg").alias("seg_a"), "b", F.col("c").alias("ca"))
    bb = cells.select(F.col("seg").alias("seg_b"), "b", F.col("c").alias("cb"))
    per = (
        a.join(bb, "b")
        .filter(F.col("seg_a") < F.col("seg_b"))
        .select(
            "seg_a",
            "seg_b",
            (
                F.sqrt(F.col("ca").cast("double") * F.col("cb").cast("double"))
                * F.lit(1.0e6)
            ).cast("long").alias("t_q"),
        )
        .groupBy("seg_a", "seg_b")
        .agg(F.sum(F.col("t_q").cast(_d38)).alias("st"))
    )
    ta = tot.select(F.col("seg").alias("seg_a"), F.col("n").alias("na"))
    tb = tot.select(F.col("seg").alias("seg_b"), F.col("n").alias("nb"))
    bc = (
        F.col("st").cast("double")
        / F.lit(1.0e6)
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    return (
        per.join(F.broadcast(ta), "seg_a")
        .join(F.broadcast(tb), "seg_b")
        .select(
            "seg_a",
            "seg_b",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            _floor_round(bc, 6).alias("bhattacharyya"),
            _floor_round(F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - bc)), 6).alias(
                "hellinger"
            ),
        )
        .orderBy("seg_a", "seg_b")
    )


ORACLE_BHATTACHARYYA_SEGMENTS = """
WITH cells AS (
  SELECT c_mktsegment AS seg,
         CAST(floor(CAST(round(c_acctbal * 100, 0) AS BIGINT) / 10000.0) AS BIGINT) AS b,
         COUNT(*) AS c
  FROM customer GROUP BY 1, 2
), tot AS (SELECT seg, SUM(c) AS n FROM cells GROUP BY 1),
per AS (
  SELECT a.seg AS seg_a, b2.seg AS seg_b,
         SUM(CAST(trunc(sqrt(CAST(a.c AS DOUBLE) * CAST(b2.c AS DOUBLE))
                        * 1000000.0) AS BIGINT)) AS st
  FROM cells a JOIN cells b2 ON b2.b = a.b AND a.seg < b2.seg
  GROUP BY 1, 2
)
SELECT seg_a, seg_b,
       CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
       sign(CAST(st AS DOUBLE) / 1000000.0 / sqrt(CAST(ta.n AS DOUBLE) * tb.n))
       * floor(abs(CAST(st AS DOUBLE) / 1000000.0
                   / sqrt(CAST(ta.n AS DOUBLE) * tb.n)) * 1000000.0 + 0.5)
         / 1000000.0 AS bhattacharyya,
       sign(sqrt(greatest(0.0, 1.0 - CAST(st AS DOUBLE) / 1000000.0
                               / sqrt(CAST(ta.n AS DOUBLE) * tb.n))))
       * floor(abs(sqrt(greatest(0.0, 1.0 - CAST(st AS DOUBLE) / 1000000.0
                                      / sqrt(CAST(ta.n AS DOUBLE) * tb.n))))
              * 1000000.0 + 0.5) / 1000000.0 AS hellinger
FROM per
JOIN tot ta ON ta.seg = per.seg_a
JOIN tot tb ON tb.seg = per.seg_b
ORDER BY seg_a, seg_b
"""


def revenue_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest monotone revenue RUNS — the gaps-and-islands census:
    consecutive-day streaks where daily revenue strictly rose (or
    fell) versus the prior day, top-5 each direction with start/end
    dates and total move. The momentum question ("how long do rallies
    last?") that autocorrelation summarizes but cannot localize; also
    the repo's exemplar of the gaps-and-islands SQL idiom (island id =
    running count of direction CHANGES).

    Plan/exactness: everything after the one orders shuffle runs on
    the calendar-bounded per-day frame (the cusum posture); direction
    is an exact integer sign of a cents difference, the island id an
    exact prefix count of change flags, and the report columns exact
    integer aggregates — no doubles anywhere except the final
    dollars rendering."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    w = Window.orderBy("d")
    dirs = daily.select(
        "d",
        "cents",
        F.when(F.col("cents") > F.lag("cents").over(w), 1)
        .when(F.col("cents") < F.lag("cents").over(w), -1)
        .otherwise(0)
        .alias("dir"),
    ).filter(F.col("dir") != 0)
    w2 = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    isl = dirs.select(
        "d",
        "cents",
        "dir",
        F.sum(
            F.when(
                F.col("dir") == F.lag("dir").over(Window.orderBy("d")), 0
            ).otherwise(1)
        )
        .over(w2)
        .alias("grp"),
    )
    runs = isl.groupBy("grp", "dir").agg(
        F.count(F.lit(1)).alias("run_days"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("start_d"),
        F.date_format(F.max("d"), "yyyy-MM-dd").alias("end_d"),
        ((F.max("cents") - F.min("cents")) / F.lit(100.0)).alias("abs_move"),
    )
    wr = Window.partitionBy("dir").orderBy(
        F.col("run_days").desc(), F.col("start_d").asc()
    )
    return (
        runs.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 5)
        .select(
            F.when(F.col("dir") == 1, "up").otherwise("down").alias("direction"),
            F.col("rk").cast("long").alias("rank"),
            F.col("run_days").cast("long").alias("run_days"),
            "start_d",
            "end_d",
            F.col("abs_move").alias("abs_move"),
        )
        .orderBy("direction", "rank")
    )


ORACLE_REVENUE_STREAKS = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), dirs AS (
  SELECT d, cents,
         CASE WHEN cents > LAG(cents) OVER (ORDER BY d) THEN 1
              WHEN cents < LAG(cents) OVER (ORDER BY d) THEN -1
              ELSE 0 END AS dir
  FROM daily
), nz AS (SELECT * FROM dirs WHERE dir <> 0),
flagged AS (
  SELECT d, cents, dir,
         CASE WHEN dir = LAG(dir) OVER (ORDER BY d) THEN 0 ELSE 1 END AS chg
  FROM nz
), isl AS (
  SELECT d, cents, dir,
         SUM(chg) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS grp
  FROM flagged
), runs AS (
  SELECT grp, dir, COUNT(*) AS run_days,
         strftime(MIN(d), '%Y-%m-%d') AS start_d,
         strftime(MAX(d), '%Y-%m-%d') AS end_d,
         (MAX(cents) - MIN(cents)) / 100.0 AS abs_move
  FROM isl GROUP BY 1, 2
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY dir
             ORDER BY run_days DESC, start_d ASC) AS rk
  FROM runs
)
SELECT CASE WHEN dir = 1 THEN 'up' ELSE 'down' END AS direction,
       CAST(rk AS BIGINT) AS rank,
       CAST(run_days AS BIGINT) AS run_days,
       start_d, end_d, abs_move
FROM ranked WHERE rk <= 5
ORDER BY direction, rank
"""


def bollinger_breakout_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly bands (the Bollinger idiom): days whose
    revenue lands OUTSIDE mean ± 2σ of the PRECEDING 28 days — the
    monitoring primitive behind every ops dashboard's "today is weird"
    alert, with the band computed from strictly-prior history so the
    anomaly cannot contaminate its own baseline (seasonal_anomaly_days
    baselines on day-of-week; this baselines on recency).

    Plan: ONE orders shuffle to the calendar-bounded per-day cents
    frame; the trailing window then runs over ≤ a few thousand rows
    (the cusum/revenue_streaks posture).  Exactness: the breakout
    predicate is pure integer arithmetic — with n=28, S=Σcents,
    Q=Σcents², dev=n·x−S, a ±2σ breakout is dev² > 4·(n·Q−S²), all in
    DECIMAL(38,0)/HUGEINT (cents² at 100 TB scale outranges int64) —
    so band membership is bit-exact across engines; the reported
    z-score dev/√(nQ−S²) is one value-determined double expression,
    half-away-rounded in the integer domain."""
    o = table(spark, sf_dir, "orders")
    _d38 = "decimal(38,0)"
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("long"))
            .cast(_d38)
            .alias("cents")
        )
    )
    n = F.lit(28).cast(_d38)
    w = Window.orderBy("d").rowsBetween(-28, -1)
    stats = daily.select(
        "d",
        "cents",
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.sum("cents").over(w).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("q"),
    )
    dev = n * F.col("cents") - F.col("s")
    var_n = n * F.col("q") - F.col("s") * F.col("s")
    z = dev.cast("double") / F.sqrt(var_n.cast("double"))
    return (
        stats.filter(F.col("cnt") == 28)
        .filter(var_n > 0)
        .filter(dev * dev > F.lit(4).cast(_d38) * var_n)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.when(dev > 0, "up").otherwise("down").alias("side"),
            (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
            _floor_round(z, 6).alias("z"),
        )
        .orderBy("d")
    )


ORACLE_BOLLINGER_BREAKOUT_DAYS = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS cents
  FROM orders GROUP BY 1
), stats AS (
  SELECT d, cents,
         COUNT(*) OVER w AS cnt,
         SUM(cents) OVER w AS s,
         SUM(cents * cents) OVER w AS q
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
), flagged AS (
  SELECT d, cents,
         28 * cents - s AS dev,
         28 * q - s * s AS var_n
  FROM stats
  WHERE cnt = 28
)
SELECT strftime(d, '%Y-%m-%d') AS d,
       CASE WHEN dev > 0 THEN 'up' ELSE 'down' END AS side,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       sign(CAST(dev AS DOUBLE) / sqrt(CAST(var_n AS DOUBLE)))
       * floor(abs(CAST(dev AS DOUBLE) / sqrt(CAST(var_n AS DOUBLE)))
               * 1000000.0 + 0.5) / 1000000.0 AS z
FROM flagged
WHERE var_n > 0 AND dev * dev > 4 * var_n
ORDER BY d
"""


def kendalls_w_region_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W (coefficient of concordance, tie-corrected) across
    the five regions' revenue RANKINGS of the 25 part brands — "do the
    regional markets agree on which brands matter?", the m-ranker
    generalization of the two-ranker correlations (Spearman/Kendall
    tau grid one pair; W scores ALL rankers at once, with the χ²
    approximation m·(n−1)·W for significance).

    Plan: one lineitem shuffle to the (region, brand) revenue grid —
    m·n = 125 cells, a data-domain constant — densified to the full
    matrix by a broadcast cross of the two tiny key sets (absent
    brands rank as exact zero-revenue ties); ranks, tie terms and the
    W numerator/denominator are then windowed integer arithmetic on
    that frame.  Exactness: revenue in exact micro-units, mid-ranks as
    DOUBLED integers (r2 = 2·#smaller + t + 1), tie correction
    ΣΣ(t³−t) exact, W = (3·ΣR'² − 3m²n(n+1)²)/(m²n(n²−1) − m·ΣT) with
    an integer numerator/denominator and ONE final double division."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    p = table(spark, sf_dir, "part")
    dim = (
        s.join(nat, s.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", F.col("r_name").alias("region"))
    )
    rev = (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .join(F.broadcast(p.select("p_partkey", "p_brand")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("region", F.col("p_brand").alias("brand"))
        .agg(
            F.sum(
                to_micro(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(28,0)")
            ).alias("rev_micro")
        )
    )
    regions = rev.select("region").distinct()
    brands = rev.select("brand").distinct()
    grid = pin(
        regions.crossJoin(F.broadcast(brands))
        .join(rev, ["region", "brand"], "left")
        .select(
            "region",
            "brand",
            F.coalesce(F.col("rev_micro"), F.lit(0).cast("decimal(28,0)")).alias(
                "v"
            ),
        )
    )
    wr = Window.partitionBy("region").orderBy("v")
    wt = Window.partitionBy("region", "v")
    ranked = grid.select(
        "region",
        "brand",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1).alias("r2"),
        F.count(F.lit(1)).over(wt).alias("t"),
    )
    # per-ranker tie term: sum over DISTINCT tie groups of t^3 - t
    ties = (
        ranked.groupBy("region", "t")
        .agg((F.count(F.lit(1)) / F.col("t")).cast("long").alias("g"))
        .groupBy("region")
        .agg(
            F.sum(F.col("g") * (F.col("t") * F.col("t") * F.col("t") - F.col("t")))
            .alias("tj")
        )
    )
    sums = ranked.groupBy("brand").agg(F.sum("r2").alias("rp"))
    m_n = grid.agg(
        F.countDistinct("region").alias("m"), F.countDistinct("brand").alias("n")
    )
    agg = (
        sums.agg(F.sum(F.col("rp") * F.col("rp")).alias("srp2"))
        .crossJoin(F.broadcast(ties.agg(F.sum("tj").alias("st"))))
        .crossJoin(F.broadcast(m_n))
    )
    num = (
        F.lit(3) * F.col("srp2")
        - F.lit(3) * F.col("m") * F.col("m") * F.col("n")
        * (F.col("n") + 1) * (F.col("n") + 1)
    )
    den = (
        F.col("m") * F.col("m") * F.col("n")
        * (F.col("n") * F.col("n") - 1)
        - F.col("m") * F.col("st")
    )
    wcol = num.cast("double") / den.cast("double")
    return agg.select(
        F.col("m").cast("long").alias("m_rankers"),
        F.col("n").cast("long").alias("n_items"),
        F.col("st").cast("long").alias("tie_term"),
        _floor_round(wcol, 6).alias("w"),
        _floor_round(
            F.col("m").cast("double") * (F.col("n") - 1).cast("double") * wcol, 4
        ).alias("chi2"),
    )


ORACLE_KENDALLS_W_REGION_BRANDS = """
WITH rev AS (
  SELECT r.r_name AS region, p.p_brand AS brand,
         SUM(CAST(trunc((l_extendedprice * (1 - l_discount)) * 1000000)
                  AS BIGINT)) AS v
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
), grid AS (
  SELECT rg.region, br.brand, COALESCE(rev.v, 0) AS v
  FROM (SELECT DISTINCT region FROM rev) rg
  CROSS JOIN (SELECT DISTINCT brand FROM rev) br
  LEFT JOIN rev ON rev.region = rg.region AND rev.brand = br.brand
), ranked AS (
  SELECT region, brand,
         2 * RANK() OVER (PARTITION BY region ORDER BY v)
           + COUNT(*) OVER (PARTITION BY region, v) - 1 AS r2,
         COUNT(*) OVER (PARTITION BY region, v) AS t
  FROM grid
), ties AS (
  SELECT region, SUM(g * (t*t*t - t)) AS tj
  FROM (SELECT region, t, COUNT(*) // t AS g FROM ranked GROUP BY region, t)
  GROUP BY region
), sums AS (
  SELECT brand, SUM(r2) AS rp FROM ranked GROUP BY brand
), mn AS (
  SELECT COUNT(DISTINCT region) AS m, COUNT(DISTINCT brand) AS n FROM grid
), agg AS (
  SELECT (SELECT SUM(rp*rp) FROM sums) AS srp2,
         (SELECT SUM(tj) FROM ties) AS st,
         m, n
  FROM mn
)
SELECT CAST(m AS BIGINT) AS m_rankers,
       CAST(n AS BIGINT) AS n_items,
       CAST(st AS BIGINT) AS tie_term,
       sign(CAST(3*srp2 - 3*m*m*n*(n+1)*(n+1) AS DOUBLE)
            / CAST(m*m*n*(n*n - 1) - m*st AS DOUBLE))
       * floor(abs(CAST(3*srp2 - 3*m*m*n*(n+1)*(n+1) AS DOUBLE)
                   / CAST(m*m*n*(n*n - 1) - m*st AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 AS w,
       sign(CAST(m AS DOUBLE) * CAST(n - 1 AS DOUBLE)
            * (CAST(3*srp2 - 3*m*m*n*(n+1)*(n+1) AS DOUBLE)
               / CAST(m*m*n*(n*n - 1) - m*st AS DOUBLE)))
       * floor(abs(CAST(m AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                   * (CAST(3*srp2 - 3*m*m*n*(n+1)*(n+1) AS DOUBLE)
                      / CAST(m*m*n*(n*n - 1) - m*st AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 AS chi2
FROM agg
"""


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend TEST on daily revenue — the non-parametric
    significance test that pairs with theil_sen_revenue_trend's
    estimator: S = Σ_{i<j} sgn(x_j − x_i) over time-ordered day pairs,
    tie-corrected variance 18·Var = n(n−1)(2n+5) − Σt(t−1)(2t+5), and
    the continuity-corrected z.  Theil–Sen says HOW STEEP; this says
    WHETHER the monotone trend is distinguishable from noise at all.

    Plan: the theil_sen posture exactly — one orders shuffle to the
    per-day cents frame, then a calendar²-bounded self-join (days²/2
    pairs at ANY corpus size) fanned to 32 partitions because AQE
    would otherwise serialize the nested-loop probe.  Exactness: S and
    the variance numerator are exact integers; z is ONE double
    expression mirrored operation-for-operation."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    a, b = daily.repartition(32).alias("a"), daily.alias("b")
    s_row = (
        a.join(b, F.col("a.d") < F.col("b.d"))
        .agg(
            F.sum(
                F.signum(F.col("b.cents") - F.col("a.cents")).cast("long")
            ).alias("s")
        )
    )
    ties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    nn = daily.agg(F.count(F.lit(1)).alias("n"))
    agg = s_row.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(nn))
    var_num = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    )
    sd = F.sqrt(var_num.cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1).cast("double") / sd)
        .when(F.col("s") < 0, (F.col("s") + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("s").cast("long").alias("s_stat"),
        var_num.cast("long").alias("var_num"),
        _floor_round(z, 6).alias("z"),
        F.when(F.col("s") > 0, "increasing")
        .when(F.col("s") < 0, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


ORACLE_MANN_KENDALL_TREND = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), s AS (
  SELECT SUM(CAST(sign(b.cents - a.cents) AS BIGINT)) AS s
  FROM daily a JOIN daily b ON a.d < b.d
), ties AS (
  SELECT SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY cents)
), nn AS (SELECT COUNT(*) AS n FROM daily)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(s AS BIGINT) AS s_stat,
       CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var_num,
       sign(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                      / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
                 WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                      / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
                 ELSE 0.0 END)
       * floor(abs(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                      / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
                 WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                      / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
                 ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS z,
       CASE WHEN s > 0 THEN 'increasing' WHEN s < 0 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM s CROSS JOIN ties CROSS JOIN nn
"""


def pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based changepoint on daily revenue — the
    non-parametric single-changepoint test (CUSUM's distribution-free
    sibling: CUSUM localizes a MEAN shift assuming roughly-Gaussian
    noise; Pettitt detects ANY stochastic-dominance shift via ranks,
    so one flash-sale outlier day cannot fake a changepoint).

    U_t is computed WITHOUT the quadratic pair sum via the mid-rank
    identity U_t = t(n+1) − Σ_{i≤t} r2_i (r2 = DOUBLED mid-ranks, so
    everything stays integer under ties); K = max|U_t| with
    earliest-day tiebreak.  Instead of exp()-ing the approximate
    p-value (a cross-engine libm risk), the EXPONENT 6K²/(n³+n²) is
    reported — p = 2e^(−exponent) for the reader.

    Plan: one orders shuffle to the calendar-bounded daily frame; the
    rank and prefix windows run over those ≤ few-thousand rows
    (sanctioned, the revenue_streaks posture); the before/after means
    are two more passes over the same tiny frame."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    nn = daily.agg(F.count(F.lit(1)).alias("n"))
    wv = Window.orderBy("cents")
    wt = Window.partitionBy("cents")
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    ranked = daily.select(
        "d",
        "cents",
        (2 * F.rank().over(wv) + F.count(F.lit(1)).over(wt) - 1).alias("r2"),
    )
    pref = ranked.select(
        "d",
        F.row_number().over(Window.orderBy("d")).alias("t"),
        F.sum("r2").over(wd).alias("w2"),
    )
    u = pref.crossJoin(F.broadcast(nn)).select(
        "d",
        "t",
        (F.col("t") * (F.col("n") + 1) - F.col("w2")).alias("u"),
        "n",
    )
    star = (
        u.filter(F.col("t") < F.col("n"))
        .orderBy(F.abs(F.col("u")).desc(), F.col("d").asc())
        .limit(1)
        .select(
            F.col("d").alias("cp"),
            F.col("u").alias("u_signed"),
            F.abs(F.col("u")).alias("k"),
            "n",
        )
    )
    sides = (
        daily.crossJoin(F.broadcast(star.select("cp")))
        .groupBy()
        .agg(
            F.sum(F.when(F.col("d") <= F.col("cp"), F.col("cents"))).alias("sb"),
            F.count(F.when(F.col("d") <= F.col("cp"), 1)).alias("nb"),
            F.sum(F.when(F.col("d") > F.col("cp"), F.col("cents"))).alias("sa"),
            F.count(F.when(F.col("d") > F.col("cp"), 1)).alias("na"),
        )
    )
    expo = (
        F.lit(6.0)
        * F.col("k").cast("double")
        * F.col("k").cast("double")
        / (
            F.col("n").cast("double") * F.col("n").cast("double")
            * F.col("n").cast("double")
            + F.col("n").cast("double") * F.col("n").cast("double")
        )
    )
    return star.crossJoin(F.broadcast(sides)).select(
        F.col("n").cast("long").alias("n_days"),
        F.date_format("cp", "yyyy-MM-dd").alias("changepoint_day"),
        F.col("k").cast("long").alias("k_stat"),
        F.col("u_signed").cast("long").alias("u_signed"),
        _floor_round(expo, 8).alias("p_exponent"),
        _floor_round(
            F.col("sb").cast("double") / F.col("nb").cast("double") / F.lit(100.0),
            2,
        ).alias("mean_before"),
        _floor_round(
            F.col("sa").cast("double") / F.col("na").cast("double") / F.lit(100.0),
            2,
        ).alias("mean_after"),
    )


ORACLE_PETTITT_CHANGEPOINT = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), nn AS (SELECT COUNT(*) AS n FROM daily),
ranked AS (
  SELECT d, cents,
         2 * RANK() OVER (ORDER BY cents)
           + COUNT(*) OVER (PARTITION BY cents) - 1 AS r2
  FROM daily
), pref AS (
  SELECT d,
         ROW_NUMBER() OVER (ORDER BY d) AS t,
         SUM(r2) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS w2
  FROM ranked
), u AS (
  SELECT d, t, t * (n + 1) - w2 AS u, n FROM pref CROSS JOIN nn
), star AS (
  SELECT d AS cp, u AS u_signed, abs(u) AS k, n
  FROM u WHERE t < n
  ORDER BY abs(u) DESC, d ASC LIMIT 1
), sides AS (
  SELECT SUM(CASE WHEN d <= (SELECT cp FROM star) THEN cents END) AS sb,
         COUNT(CASE WHEN d <= (SELECT cp FROM star) THEN 1 END) AS nb,
         SUM(CASE WHEN d > (SELECT cp FROM star) THEN cents END) AS sa,
         COUNT(CASE WHEN d > (SELECT cp FROM star) THEN 1 END) AS na
  FROM daily
)
SELECT CAST(n AS BIGINT) AS n_days,
       strftime(cp, '%Y-%m-%d') AS changepoint_day,
       CAST(k AS BIGINT) AS k_stat,
       CAST(u_signed AS BIGINT) AS u_signed,
       sign(6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       * floor(abs(6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               * 100000000.0 + 0.5) / 100000000.0 AS p_exponent,
       sign(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0)
       * floor(abs(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0)
               * 100.0 + 0.5) / 100.0 AS mean_before,
       sign(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0)
       * floor(abs(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0)
               * 100.0 + 0.5) / 100.0 AS mean_after
FROM star CROSS JOIN sides
"""


def logrank_segment_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do BUILDING-segment customers churn on a
    different clock than the rest?  Completes the survival family —
    kaplan_meier_retention draws the curve, nelson_aalen_hazard the
    hazard, this TESTS whether two curves differ: at every death time
    O−E accumulates d_1t − d_t·n_1t/n_t and V the hypergeometric
    variance; χ² = (O−E)²/V.  Lifetime = days between a customer's
    first and last order; censored when the last order is within 90
    days of the corpus boundary (the customer may still be active).

    Plan: ONE orders shuffle to per-customer (first, last), one
    dimension join for the segment; all survival arithmetic runs on
    the per-lifetime-day × 2-group frame (calendar-bounded; the
    at-risk prefix windows are PARTITIONED by group).  Exactness:
    death/at-risk counts exact integers; each day's E and V terms are
    value-determined doubles quantized to 1e-8 integers before the
    fold (the KM ln-quantization idiom); the final χ² is one double
    expression."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    pu = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("f"),
        F.max(F.to_date("o_orderdate")).alias("l"),
    )
    seg = c.select(
        F.col("c_custkey"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("grp"),
    )
    pu = pu.join(seg, pu.o_custkey == seg.c_custkey)
    end = pu.agg(F.max("l").alias("e"))
    lived = pu.crossJoin(F.broadcast(end)).select(
        "grp",
        F.datediff("l", "f").alias("t_days"),
        (F.datediff("e", "l") >= 90).cast("int").alias("churned"),
    )
    counts = lived.groupBy("grp", "t_days").agg(
        F.sum("churned").alias("deaths"),
        F.sum(F.lit(1) - F.col("churned")).alias("censored"),
    )
    ng = lived.groupBy("grp").agg(F.count(F.lit(1)).alias("n_g"))
    days = counts.select("t_days").distinct()
    grps = counts.select("grp").distinct()
    dense = (
        days.crossJoin(F.broadcast(grps))
        .join(counts, ["grp", "t_days"], "left")
        .select(
            "grp",
            "t_days",
            F.coalesce("deaths", F.lit(0)).alias("deaths"),
            F.coalesce("censored", F.lit(0)).alias("censored"),
        )
    )
    w_prior = (
        Window.partitionBy("grp")
        .orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = dense.join(F.broadcast(ng), "grp").select(
        "grp",
        "t_days",
        "deaths",
        (
            F.col("n_g")
            - F.coalesce(
                F.sum(F.col("deaths") + F.col("censored")).over(w_prior), F.lit(0)
            )
        ).alias("at_risk"),
    )
    per_day = risk.groupBy("t_days").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("deaths")).otherwise(0)).alias("d1"),
        F.sum("deaths").alias("dt"),
        F.sum(F.when(F.col("grp") == 1, F.col("at_risk")).otherwise(0)).alias(
            "n1"
        ),
        F.sum("at_risk").alias("nt"),
    )
    p1 = F.col("n1").cast("double") / F.col("nt").cast("double")
    e_term = F.col("dt").cast("double") * p1
    v_term = (
        F.col("dt").cast("double")
        * p1
        * (F.lit(1.0) - p1)
        * (
            (F.col("nt") - F.col("dt")).cast("double")
            / (F.col("nt") - 1).cast("double")
        )
    )
    folded = (
        per_day.filter((F.col("dt") > 0) & (F.col("nt") >= 2))
        .agg(
            F.sum("d1").cast("long").alias("o1"),
            F.sum((e_term * F.lit(1.0e8)).cast("long").cast("decimal(28,0)")).alias(
                "e_q"
            ),
            F.sum((v_term * F.lit(1.0e8)).cast("long").cast("decimal(28,0)")).alias(
                "v_q"
            ),
        )
    )
    sizes = lived.groupBy().agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_building"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n_rest"),
    )
    e1 = F.col("e_q").cast("double") / F.lit(1.0e8)
    v1 = F.col("v_q").cast("double") / F.lit(1.0e8)
    chi2 = (
        (F.col("o1").cast("double") - e1)
        * (F.col("o1").cast("double") - e1)
        / v1
    )
    return folded.crossJoin(F.broadcast(sizes)).select(
        F.col("n_building").cast("long").alias("n_building"),
        F.col("n_rest").cast("long").alias("n_rest"),
        F.col("o1").alias("observed_building"),
        _floor_round(e1, 6).alias("expected_building"),
        _floor_round(chi2, 6).alias("chi2"),
    )


ORACLE_LOGRANK_SEGMENT_CHURN = """
WITH pu AS (
  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS f,
         MAX(CAST(o_orderdate AS DATE)) AS l
  FROM orders GROUP BY o_custkey
), pg AS (
  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp,
         pu.f, pu.l
  FROM pu JOIN customer c ON c.c_custkey = pu.o_custkey
), fin AS (SELECT MAX(l) AS e FROM pg),
lived AS (
  SELECT grp, datediff('day', f, l) AS t_days,
         CASE WHEN datediff('day', l, e) >= 90 THEN 1 ELSE 0 END AS churned
  FROM pg CROSS JOIN fin
), counts AS (
  SELECT grp, t_days, SUM(churned) AS deaths,
         SUM(1 - churned) AS censored
  FROM lived GROUP BY 1, 2
), ng AS (SELECT grp, COUNT(*) AS n_g FROM lived GROUP BY 1),
dense AS (
  SELECT g.grp, d.t_days,
         COALESCE(c.deaths, 0) AS deaths, COALESCE(c.censored, 0) AS censored
  FROM (SELECT DISTINCT t_days FROM counts) d
  CROSS JOIN (SELECT DISTINCT grp FROM counts) g
  LEFT JOIN counts c ON c.grp = g.grp AND c.t_days = d.t_days
), risk AS (
  SELECT dense.grp, t_days, deaths,
         n_g - COALESCE(SUM(deaths + censored) OVER (
                 PARTITION BY dense.grp ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS at_risk
  FROM dense JOIN ng ON ng.grp = dense.grp
), per_day AS (
  SELECT t_days,
         SUM(CASE WHEN grp = 1 THEN deaths ELSE 0 END) AS d1,
         SUM(deaths) AS dt,
         SUM(CASE WHEN grp = 1 THEN at_risk ELSE 0 END) AS n1,
         SUM(at_risk) AS nt
  FROM risk GROUP BY 1
), folded AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         SUM(CAST(trunc((CAST(dt AS DOUBLE)
                         * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE)))
                        * 100000000.0) AS BIGINT)) AS e_q,
         SUM(CAST(trunc((CAST(dt AS DOUBLE)
                         * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
                         * (1.0 - CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
                         * (CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE)))
                        * 100000000.0) AS BIGINT)) AS v_q
  FROM per_day WHERE dt > 0 AND nt >= 2
), sizes AS (
  SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_building,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rest
  FROM lived
)
SELECT n_building, n_rest,
       o1 AS observed_building,
       sign(CAST(e_q AS DOUBLE) / 100000000.0)
       * floor(abs(CAST(e_q AS DOUBLE) / 100000000.0) * 1000000.0 + 0.5)
         / 1000000.0 AS expected_building,
       sign((CAST(o1 AS DOUBLE) - CAST(e_q AS DOUBLE) / 100000000.0)
            * (CAST(o1 AS DOUBLE) - CAST(e_q AS DOUBLE) / 100000000.0)
            / (CAST(v_q AS DOUBLE) / 100000000.0))
       * floor(abs((CAST(o1 AS DOUBLE) - CAST(e_q AS DOUBLE) / 100000000.0)
                   * (CAST(o1 AS DOUBLE) - CAST(e_q AS DOUBLE) / 100000000.0)
                   / (CAST(v_q AS DOUBLE) / 100000000.0))
               * 1000000.0 + 0.5) / 1000000.0 AS chi2
FROM folded CROSS JOIN sizes
"""


def cochran_q_first_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over first-day action profiles: blocks = users,
    treatments = the k event types, x_ij = "user i performed action j
    on their FIRST active day" — the k-treatment completion of
    McNemar (are first-session action rates equal across actions, or
    is onboarding funneling users into some?).  Q = (k−1)(k·ΣC_j² −
    S²)/(k·S − ΣR_i²) is χ²(k−1) under exchangeability.

    Plan: one shuffle to per-user first day, one user-co-partitioned
    join back to events, then two tiny aggregations (per-user row
    sums, per-type column sums).  Exactness: every term is an exact
    integer; Q is ONE double division."""
    e = table(spark, sf_dir, "events")
    fd = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    flags = (
        e.select("user_id", F.to_date("ts").alias("d"), "event_type")
        .join(fd, ["user_id"])
        .filter(F.col("d") == F.col("d0"))
        .select("user_id", "event_type")
        .distinct()
    )
    k_row = e.agg(F.countDistinct("event_type").alias("k"))
    rsums = flags.groupBy("user_id").agg(F.count(F.lit(1)).alias("ri"))
    r_agg = rsums.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("ri").alias("s"),
        F.sum(F.col("ri") * F.col("ri")).alias("sr2"),
    )
    c_agg = (
        flags.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cj"))
        .agg(F.sum(F.col("cj") * F.col("cj")).alias("sc2"))
    )
    agg = r_agg.crossJoin(F.broadcast(c_agg)).crossJoin(F.broadcast(k_row))
    q = (
        (F.col("k") - 1).cast("double")
        * (F.col("k") * F.col("sc2") - F.col("s") * F.col("s")).cast("double")
        / (F.col("k") * F.col("s") - F.col("sr2")).cast("double")
    )
    return agg.select(
        F.col("k").cast("long").alias("k_treatments"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("s").cast("long").alias("total_successes"),
        _floor_round(q, 6).alias("q_stat"),
        (F.col("k") - 1).cast("long").alias("df"),
    )


ORACLE_COCHRAN_Q_FIRST_DAY = """
WITH fd AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
), flags AS (
  SELECT DISTINCT e.user_id, e.event_type
  FROM events e JOIN fd ON fd.user_id = e.user_id
  WHERE CAST(e.ts AS DATE) = fd.d0
), kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM events),
r_agg AS (
  SELECT COUNT(*) AS n_users, SUM(ri) AS s, SUM(ri * ri) AS sr2
  FROM (SELECT user_id, COUNT(*) AS ri FROM flags GROUP BY user_id)
), c_agg AS (
  SELECT SUM(cj * cj) AS sc2
  FROM (SELECT event_type, COUNT(*) AS cj FROM flags GROUP BY event_type)
)
SELECT CAST(k AS BIGINT) AS k_treatments,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(s AS BIGINT) AS total_successes,
       sign(CAST(k - 1 AS DOUBLE) * CAST(k * sc2 - s * s AS DOUBLE)
            / CAST(k * s - sr2 AS DOUBLE))
       * floor(abs(CAST(k - 1 AS DOUBLE) * CAST(k * sc2 - s * s AS DOUBLE)
                   / CAST(k * s - sr2 AS DOUBLE)) * 1000000.0 + 0.5)
         / 1000000.0 AS q_stat,
       CAST(k - 1 AS BIGINT) AS df
FROM r_agg CROSS JOIN c_agg CROSS JOIN kk
"""


def runs_test_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on daily revenue vs its exact median —
    the randomness test the trend family presumes away: too FEW runs
    means sticky regimes (autocorrelation), too MANY means
    oscillation; |z| ≈ 0 is what an i.i.d. sequence looks like.
    Median-equal days are dropped (the standard convention), and the
    above/below split uses the DOUBLED-median integer comparator
    2·cents vs (x_lo + x_hi) so no division ever happens.

    Plan: one orders shuffle to the calendar-bounded daily frame; the
    median-rank and lag windows run over those ≤ few-thousand rows
    (sanctioned).  Exactness: run/above/below counts are exact
    integers; expected runs and z are single mirrored double
    expressions."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    nn = daily.agg(F.count(F.lit(1)).alias("n"))
    ranked = daily.select(
        "d", "cents", F.row_number().over(Window.orderBy("cents", "d")).alias("rn")
    )
    med2 = (
        ranked.crossJoin(F.broadcast(nn))
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("cents")
                    )
                )
                + F.sum(
                    F.when(
                        F.col("rn") == F.floor(F.col("n") / 2) + 1, F.col("cents")
                    )
                )
            ).alias("m2")
        )
    )
    signed = (
        daily.crossJoin(F.broadcast(med2))
        .filter(2 * F.col("cents") != F.col("m2"))
        .select("d", (2 * F.col("cents") > F.col("m2")).cast("int").alias("above"))
    )
    wl = Window.orderBy("d")
    runs_flags = signed.select(
        "above",
        F.when(F.col("above") != F.lag("above").over(wl), 1)
        .otherwise(0)
        .alias("chg"),
    )
    agg = runs_flags.agg(
        F.sum("above").alias("n1"),
        F.sum(F.lit(1) - F.col("above")).alias("n2"),
        (F.sum("chg") + 1).alias("r"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    mu = F.lit(2.0) * n1d * n2d / nd + F.lit(1.0)
    sig2 = (
        F.lit(2.0) * n1d * n2d * (F.lit(2.0) * n1d * n2d - nd)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    z = (F.col("r").cast("double") - mu) / F.sqrt(sig2)
    return agg.select(
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        F.col("r").cast("long").alias("runs"),
        _floor_round(mu, 6).alias("expected_runs"),
        _floor_round(z, 6).alias("z"),
    )


ORACLE_RUNS_TEST_REVENUE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), nn AS (SELECT COUNT(*) AS n FROM daily),
ranked AS (
  SELECT d, cents, ROW_NUMBER() OVER (ORDER BY cents, d) AS rn FROM daily
), med2 AS (
  SELECT SUM(CASE WHEN rn = (n + 1) // 2 THEN cents END)
         + SUM(CASE WHEN rn = n // 2 + 1 THEN cents END) AS m2
  FROM ranked CROSS JOIN nn
), signed AS (
  SELECT d, CASE WHEN 2 * cents > m2 THEN 1 ELSE 0 END AS above
  FROM daily CROSS JOIN med2
  WHERE 2 * cents <> m2
), flags AS (
  SELECT above,
         CASE WHEN above <> LAG(above) OVER (ORDER BY d) THEN 1 ELSE 0 END AS chg
  FROM signed
), agg AS (
  SELECT SUM(above) AS n1, SUM(1 - above) AS n2, SUM(chg) + 1 AS r FROM flags
)
SELECT CAST(n1 AS BIGINT) AS n_above,
       CAST(n2 AS BIGINT) AS n_below,
       CAST(r AS BIGINT) AS runs,
       sign(2.0 * n1 * n2 / (n1 + n2) + 1.0)
       * floor(abs(2.0 * n1 * n2 / (n1 + n2) + 1.0) * 1000000.0 + 0.5)
         / 1000000.0 AS expected_runs,
       sign((CAST(r AS DOUBLE) - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
            / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                   / ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1.0))))
       * floor(abs((CAST(r AS DOUBLE) - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                   / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                          / ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1.0))))
               * 1000000.0 + 0.5) / 1000000.0 AS z
FROM agg
"""


def page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test (L statistic) for an ORDERED alternative:
    within each market segment (block), rank the YEARS by revenue;
    L = Σ_year (year_index · rank) is maximal when every segment's
    revenue rises monotonically with the calendar — the directional
    test Kendall's W cannot give (W detects agreement; Page detects
    agreement WITH TIME'S ARROW).  Ranks are DOUBLED mid-ranks so ties
    stay integer; L is reported in doubled units alongside the
    standard normal z (no-tie moments — ties across yearly revenue
    micro-totals are measure-zero and the ranks stay exact
    regardless).

    Plan: one orders+customer shuffle to the (segment, year) cents
    grid — m·n data-domain cells; ranks and moments are windowed
    integer arithmetic on that frame."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    grid = pin(
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    wj = Window.orderBy("yr")
    wr = Window.partitionBy("seg").orderBy("cents")
    wt = Window.partitionBy("seg", "cents")
    ranked = grid.select(
        "seg",
        F.dense_rank().over(wj).alias("j"),
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1).alias("r2"),
    )
    mn = grid.agg(
        F.countDistinct("seg").alias("m"), F.countDistinct("yr").alias("n")
    )
    l2 = ranked.agg(F.sum(F.col("j") * F.col("r2")).alias("l2"))
    agg = l2.crossJoin(F.broadcast(mn))
    md = F.col("m").cast("double")
    nd = F.col("n").cast("double")
    l_val = F.col("l2").cast("double") / F.lit(2.0)
    mu = md * nd * (nd + 1) * (nd + 1) / F.lit(4.0)
    sig2 = md * nd * nd * (nd + 1) * (nd * nd - 1) / F.lit(144.0)
    z = (l_val - mu) / F.sqrt(sig2)
    return agg.select(
        F.col("m").cast("long").alias("m_blocks"),
        F.col("n").cast("long").alias("n_treatments"),
        F.col("l2").cast("long").alias("l2_stat"),
        _floor_round(l_val, 1).alias("l_stat"),
        _floor_round(z, 6).alias("z"),
    )


ORACLE_PAGE_TREND_TEST = """
WITH grid AS (
  SELECT c.c_mktsegment AS seg, EXTRACT(year FROM o_orderdate) AS yr,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT seg,
         DENSE_RANK() OVER (ORDER BY yr) AS j,
         2 * RANK() OVER (PARTITION BY seg ORDER BY cents)
           + COUNT(*) OVER (PARTITION BY seg, cents) - 1 AS r2
  FROM grid
), mn AS (
  SELECT COUNT(DISTINCT seg) AS m, COUNT(DISTINCT yr) AS n FROM grid
), l2 AS (SELECT SUM(j * r2) AS l2 FROM ranked)
SELECT CAST(m AS BIGINT) AS m_blocks,
       CAST(n AS BIGINT) AS n_treatments,
       CAST(l2 AS BIGINT) AS l2_stat,
       sign(CAST(l2 AS DOUBLE) / 2.0)
       * floor(abs(CAST(l2 AS DOUBLE) / 2.0) * 10.0 + 0.5) / 10.0 AS l_stat,
       sign((CAST(l2 AS DOUBLE) / 2.0
             - CAST(m AS DOUBLE) * n * (n + 1) * (n + 1) / 4.0)
            / sqrt(CAST(m AS DOUBLE) * n * n * (n + 1) * (n * n - 1) / 144.0))
       * floor(abs((CAST(l2 AS DOUBLE) / 2.0
                    - CAST(m AS DOUBLE) * n * (n + 1) * (n + 1) / 4.0)
                   / sqrt(CAST(m AS DOUBLE) * n * n * (n + 1) * (n * n - 1)
                          / 144.0)) * 1000000.0 + 0.5) / 1000000.0 AS z
FROM l2 CROSS JOIN mn
"""


def cvm_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises drift statistic between English and
    non-English document-length distributions — KS's L² sibling: KS
    scores the single worst ECDF gap (sensitive to one sharp local
    shift), ω² integrates the SQUARED gap over the whole pooled sample
    (sensitive to many small diffuse shifts KS under-weights).  Run
    both and the SHAPE of the drift is identified, not just its
    presence.  ω² = nm/N² · Σ_pooled (F(v) − G(v))².

    Plan: the ks_length_drift machinery verbatim — one conditional-sum
    shuffle to per-distinct-length counts, the two-level bucket-prefix
    cumsum (nothing row-count-sized on one task).  Exactness: each
    distinct length's (F−G)² is a value-determined double quantized to
    1e-12 integers, weight-folded exactly; the nm/N² prefactor is one
    mirrored double expression (factors cast to double pre-product,
    the ks crit idiom)."""
    d = table(spark, sf_dir, "documents")
    per = pin(
        d.groupBy("n_chars")
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_en"),
            F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("c_ot"),
        )
        .withColumn("bkt", F.floor(F.col("n_chars") / F.lit(_KS_BUCKET)))
    )
    bp = per.groupBy("bkt").agg(
        F.sum("c_en").alias("b_en"), F.sum("c_ot").alias("b_ot")
    )
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bp.select(
        "bkt",
        F.coalesce(F.sum("b_en").over(wb), F.lit(0)).alias("p_en"),
        F.coalesce(F.sum("b_ot").over(wb), F.lit(0)).alias("p_ot"),
    )
    wv = Window.partitionBy("bkt").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.join(F.broadcast(prefix), "bkt").select(
        "n_chars",
        (F.col("c_en") + F.col("c_ot")).alias("w"),
        (F.col("p_en") + F.sum("c_en").over(wv)).alias("cum_en"),
        (F.col("p_ot") + F.sum("c_ot").over(wv)).alias("cum_ot"),
    )
    totals = per.agg(
        F.sum("c_en").alias("n_en"), F.sum("c_ot").alias("n_other")
    )
    diff = (
        F.col("cum_en").cast("double") / F.col("n_en")
        - F.col("cum_ot").cast("double") / F.col("n_other")
    )
    folded = (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "n_en",
            "n_other",
            "w",
            ((diff * diff) * F.lit(1.0e12)).cast("long").alias("q"),
        )
        .groupBy("n_en", "n_other")
        .agg(
            F.sum(
                (F.col("w") * F.col("q")).cast("decimal(38,0)")
            ).alias("sq"),
            F.count(F.lit(1)).alias("n_lengths"),
        )
    )
    t = (
        F.col("n_en").cast("double")
        * F.col("n_other").cast("double")
        / (
            (F.col("n_en") + F.col("n_other")).cast("double")
            * (F.col("n_en") + F.col("n_other")).cast("double")
        )
        * (F.col("sq").cast("double") / F.lit(1.0e12))
    )
    return folded.select(
        F.col("n_en").cast("long").alias("n_en"),
        F.col("n_other").cast("long").alias("n_other"),
        F.col("n_lengths").cast("long").alias("n_distinct_lengths"),
        _floor_round(t, 8).alias("t_cvm"),
    )


ORACLE_CVM_LENGTH_DRIFT = """
WITH per AS (
  SELECT n_chars,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
         SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_ot
  FROM documents GROUP BY n_chars
), cum AS (
  SELECT n_chars, c_en + c_ot AS w,
         SUM(c_en) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum_en,
         SUM(c_ot) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum_ot
  FROM per
), totals AS (
  SELECT SUM(c_en) AS n_en, SUM(c_ot) AS n_other FROM per
), folded AS (
  SELECT n_en, n_other, COUNT(*) AS n_lengths,
         SUM(w * CAST(trunc(((CAST(cum_en AS DOUBLE) / n_en
                              - CAST(cum_ot AS DOUBLE) / n_other)
                             * (CAST(cum_en AS DOUBLE) / n_en
                                - CAST(cum_ot AS DOUBLE) / n_other))
                            * 1000000000000.0) AS BIGINT)) AS sq
  FROM cum CROSS JOIN totals
  GROUP BY n_en, n_other
)
SELECT CAST(n_en AS BIGINT) AS n_en,
       CAST(n_other AS BIGINT) AS n_other,
       CAST(n_lengths AS BIGINT) AS n_distinct_lengths,
       sign(CAST(n_en AS DOUBLE) * CAST(n_other AS DOUBLE)
            / (CAST(n_en + n_other AS DOUBLE) * CAST(n_en + n_other AS DOUBLE))
            * (CAST(sq AS DOUBLE) / 1000000000000.0))
       * floor(abs(CAST(n_en AS DOUBLE) * CAST(n_other AS DOUBLE)
            / (CAST(n_en + n_other AS DOUBLE) * CAST(n_en + n_other AS DOUBLE))
            * (CAST(sq AS DOUBLE) / 1000000000000.0)) * 100000000.0 + 0.5)
         / 100000000.0 AS t_cvm
FROM folded
"""


def wilcoxon_first_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-customer order values:
    does a customer's LAST order differ systematically from their
    FIRST?  The paired complement of Mann–Whitney (which compares two
    independent samples; this controls for the customer, so
    between-customer spread cancels).  W⁺ = Σ ranks of |d| over
    positive diffs; z uses the tie-corrected normal approximation.

    Plan: one orders shuffle to per-customer (first, last) via
    min_by/max_by on an encoded (day, orderkey) BIGINT; ranks of |d|
    come from operators/quantiles.rank2_map — the two-level
    bucket-prefix rank (nothing row-count-sized on one task), DOUBLED
    so ties stay integer.  Exactness: W2⁺ and the tie term are exact
    integers; z is one mirrored double expression.  Bound: the
    (day·1e12 + orderkey) encoding is documented exact below orderkey
    1e12."""
    o = table(spark, sf_dir, "orders")
    key = (
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"), "yyyy-MM-dd")
        ).cast("long")
        * F.lit(1_000_000_000_000)
        + F.col("o_orderkey")
    )
    cents = (F.col("o_totalprice") * 100).cast("long")
    pc = o.groupBy("o_custkey").agg(
        F.min_by(cents, key).alias("first_c"),
        F.max_by(cents, key).alias("last_c"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    diffs = pin(
        pc.filter(F.col("n_orders") >= 2)
        .select((F.col("last_c") - F.col("first_c")).alias("dd"))
        .filter(F.col("dd") != 0)
        .select(
            F.abs(F.col("dd")).alias("ad"),
            (F.col("dd") > 0).cast("int").alias("pos"),
        )
    )
    from data_ingestion_project_spark.operators.quantiles import rank2_map

    ranks = rank2_map(diffs, "ad", bucket_width=100_000)
    pos_c = diffs.groupBy("ad").agg(F.sum("pos").alias("c_pos"))
    joined = ranks.join(pos_c, "ad")
    agg = joined.agg(
        F.sum("cnt").cast("long").alias("n_pairs"),
        F.sum("c_pos").cast("long").alias("n_positive"),
        F.sum((F.col("r2") * F.col("c_pos")).cast("decimal(38,0)")).alias("w2"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)")
            * F.col("cnt").cast("decimal(38,0)")
            * F.col("cnt").cast("decimal(38,0)")
            - F.col("cnt").cast("decimal(38,0)")
        ).alias("tie_term"),
    )
    nd = F.col("n_pairs").cast("double")
    w_plus = F.col("w2").cast("double") / F.lit(2.0)
    mu = nd * (nd + F.lit(1.0)) / F.lit(4.0)
    sig2 = (
        nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0)) / F.lit(24.0)
        - F.col("tie_term").cast("double") / F.lit(48.0)
    )
    z = (w_plus - mu) / F.sqrt(sig2)
    return agg.select(
        "n_pairs",
        "n_positive",
        F.col("w2").cast("long").alias("w2_plus"),
        F.col("tie_term").cast("long").alias("tie_term"),
        _floor_round(z, 6).alias("z"),
    )


ORACLE_WILCOXON_FIRST_LAST_ORDER = f"""
WITH pc AS (
  SELECT o_custkey,
         arg_min(CAST(trunc(o_totalprice * 100) AS BIGINT),
                 CAST(datediff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) AS BIGINT)
                 * 1000000000000 + o_orderkey) AS first_c,
         arg_max(CAST(trunc(o_totalprice * 100) AS BIGINT),
                 CAST(datediff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) AS BIGINT)
                 * 1000000000000 + o_orderkey) AS last_c,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
), diffs AS (
  SELECT abs(last_c - first_c) AS ad,
         CASE WHEN last_c - first_c > 0 THEN 1 ELSE 0 END AS pos
  FROM pc WHERE n_orders >= 2 AND last_c - first_c <> 0
), ranks AS ({{_SQL_RANK2}}), posc AS (
  SELECT ad, SUM(pos) AS c_pos FROM diffs GROUP BY ad
), agg AS (
  SELECT CAST(SUM(r.c) AS BIGINT) AS n_pairs,
         CAST(SUM(p.c_pos) AS BIGINT) AS n_positive,
         SUM(r.r2 * p.c_pos) AS w2,
         CAST(SUM(r.c * r.c * r.c - r.c) AS BIGINT) AS tie_term
  FROM ranks r JOIN posc p ON p.ad = r.v
)
SELECT n_pairs, n_positive,
       CAST(w2 AS BIGINT) AS w2_plus, tie_term,
       sign((CAST(w2 AS DOUBLE) / 2.0
             - CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0) / 4.0)
            / sqrt(CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)
                   * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 24.0
                   - CAST(tie_term AS DOUBLE) / 48.0))
       * floor(abs((CAST(w2 AS DOUBLE) / 2.0
             - CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0) / 4.0)
            / sqrt(CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)
                   * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 24.0
                   - CAST(tie_term AS DOUBLE) / 48.0)) * 1000000.0 + 0.5)
         / 1000000.0 AS z
FROM agg
""".replace(
    "{_SQL_RANK2}", _SQL_RANK2.format(v="ad", src="diffs")
)


_LB_LAGS = 10


def ljung_box_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test on daily revenue: is the series
    white noise across the first 10 autocorrelation lags JOINTLY?
    residual_autocorr reads ONE lag (DW/r1); Q = n(n+2)·Σ ρ̂_k²/(n−k)
    pools ten, so slow oscillations that leave lag-1 clean still
    register.  The companion runs_test checks sign randomness; this
    checks LINEAR memory.

    Plan: one orders shuffle to the calendar-bounded daily frame; each
    lag's pair set is an exact calendar equi-join of that tiny frame
    against its day+k shift (one explode of k=1..10, one join — no
    windows).  Exactness: deviations use the mirrored global-mean
    double; per-pair products are unit-quantized and folded as exact
    decimals in DOLLAR units (int64-exact to ~$3e9/day deviations,
    the documented bound); each ρ̂_k is quantized to
    1e-6 BEFORE squaring and each Q term to 1e-12 before the 10-term
    fold, so the cross-engine sum order cannot matter."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    res = pin(daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        (
            (
                F.col("cents").cast("double")
                - F.col("s").cast("double") / F.col("n").cast("double")
            )
            / F.lit(100.0)
        ).alias("e"),
    ))
    unit = lambda c: c.cast("long").cast("decimal(38,0)")  # noqa: E731
    den_row = res.agg(F.sum(unit(F.col("e") * F.col("e"))).alias("dd"))
    shifts = res.select(
        F.explode(F.sequence(F.lit(1), F.lit(_LB_LAGS))).alias("k"),
        F.col("d").alias("d0"),
        F.col("e").alias("e_prev"),
    ).select(F.expr("date_add(d0, k)").alias("d"), "k", "e_prev")
    pairs = res.join(shifts, "d")
    perlag = pairs.groupBy("k").agg(
        F.sum(unit(F.col("e_prev") * F.col("e"))).alias("nk")
    )
    rho_q = _micro(F.col("nk").cast("double") / F.col("dd").cast("double"))
    m = F.lit(float(_M))
    term_q = (
        (
            (rho_q.cast("double") / m)
            * (rho_q.cast("double") / m)
            / (F.col("n") - F.col("k")).cast("double")
        )
        * F.lit(1.0e12)
    ).cast("long")
    folded = (
        perlag.crossJoin(F.broadcast(den_row))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            F.when(F.col("k") == 1, rho_q).alias("r1_q"),
            F.when(F.col("k") == 2, rho_q).alias("r2_q"),
            term_q.alias("tq"),
        )
        .agg(
            F.max("n").alias("n"),
            F.max("r1_q").alias("r1_q"),
            F.max("r2_q").alias("r2_q"),
            F.sum(F.col("tq").cast("decimal(38,0)")).alias("st"),
            F.count(F.lit(1)).alias("df"),
        )
    )
    q = (
        F.col("n").cast("double")
        * (F.col("n") + 2).cast("double")
        * (F.col("st").cast("double") / F.lit(1.0e12))
    )
    return folded.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("df").cast("long").alias("df"),
        (F.col("r1_q").cast("double") / m).alias("rho_1"),
        (F.col("r2_q").cast("double") / m).alias("rho_2"),
        _floor_round(q, 6).alias("q_stat"),
    )


ORACLE_LJUNG_BOX_REVENUE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), tot AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM daily),
res AS (
  SELECT d, n,
         (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
           / 100.0 AS e
  FROM daily CROSS JOIN tot
), den AS (
  SELECT SUM(CAST(CAST(trunc(e * e) AS BIGINT) AS HUGEINT)) AS dd FROM res
), shifts AS (
  SELECT d + CAST(k AS INT) AS d, k, e AS e_prev
  FROM res CROSS JOIN (SELECT unnest(range(1, {_LB_LAGS + 1})) AS k)
), perlag AS (
  SELECT k, SUM(CAST(CAST(trunc(s.e_prev * r.e) AS BIGINT) AS HUGEINT)) AS nk
  FROM res r JOIN shifts s ON s.d = r.d
  GROUP BY k
), scored AS (
  SELECT k,
         CAST(trunc(CAST(nk AS DOUBLE) / CAST(dd AS DOUBLE) * 1000000.0)
              AS BIGINT) AS rho_q,
         n
  FROM perlag CROSS JOIN den CROSS JOIN tot
), folded AS (
  SELECT MAX(n) AS n,
         MAX(CASE WHEN k = 1 THEN rho_q END) AS r1_q,
         MAX(CASE WHEN k = 2 THEN rho_q END) AS r2_q,
         SUM(CAST(CAST(trunc(((CAST(rho_q AS DOUBLE) / 1000000.0)
                        * (CAST(rho_q AS DOUBLE) / 1000000.0)
                        / CAST(n - k AS DOUBLE)) * 1000000000000.0) AS BIGINT)
                  AS HUGEINT)) AS st,
         COUNT(*) AS df
  FROM scored
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(df AS BIGINT) AS df,
       CAST(r1_q AS DOUBLE) / 1000000.0 AS rho_1,
       CAST(r2_q AS DOUBLE) / 1000000.0 AS rho_2,
       sign(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
            * (CAST(st AS DOUBLE) / 1000000000000.0))
       * floor(abs(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
                   * (CAST(st AS DOUBLE) / 1000000000000.0))
               * 1000000.0 + 0.5) / 1000000.0 AS q_stat
FROM folded
"""


def grubbs_outlier_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' extreme-outlier statistic on daily revenue: the single
    day farthest from the mean in σ units, G = max|x−x̄|/s — the
    formal "was THAT day real?" test behind every spike post-mortem
    (bollinger flags days against LOCAL trailing bands; Grubbs scores
    the global extreme against the WHOLE series).

    Plan/exactness: one shuffle to the daily frame; the argmax key is
    the exact integer |n·x − S| (DECIMAL — no doubles in the ordering,
    earliest-day tiebreak), and G is one mirrored double expression
    over exact integer moments."""
    o = table(spark, sf_dir, "orders")
    _d38 = "decimal(38,0)"
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("long"))
            .cast(_d38)
            .alias("cents")
        )
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast(_d38).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("q"),
    )
    dev = F.col("n") * F.col("cents") - F.col("s")
    star = (
        daily.crossJoin(F.broadcast(tot))
        .orderBy(F.abs(dev).desc(), F.col("d").asc())
        .limit(1)
    )
    var_n = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    g = F.abs(dev).cast("double") / F.sqrt(
        var_n.cast("double") * F.col("n").cast("double")
        / (F.col("n") - 1).cast("double")
    )
    return star.select(
        F.col("n").cast("long").alias("n_days"),
        F.date_format("d", "yyyy-MM-dd").alias("outlier_day"),
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        F.when(dev > 0, "high").otherwise("low").alias("side"),
        _floor_round(g, 6).alias("g_stat"),
    )


ORACLE_GRUBBS_OUTLIER_DAY = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS cents
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(cents) AS s,
         SUM(cents * cents) AS q
  FROM daily
), star AS (
  SELECT d, cents, n, s, q, n * cents - s AS dev
  FROM daily CROSS JOIN tot
  ORDER BY abs(n * cents - s) DESC, d ASC LIMIT 1
)
SELECT CAST(n AS BIGINT) AS n_days,
       strftime(d, '%Y-%m-%d') AS outlier_day,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CASE WHEN dev > 0 THEN 'high' ELSE 'low' END AS side,
       sign(CAST(abs(dev) AS DOUBLE)
            / sqrt(CAST(n * q - s * s AS DOUBLE) * CAST(n AS DOUBLE)
                   / CAST(n - 1 AS DOUBLE)))
       * floor(abs(CAST(abs(dev) AS DOUBLE)
                   / sqrt(CAST(n * q - s * s AS DOUBLE) * CAST(n AS DOUBLE)
                          / CAST(n - 1 AS DOUBLE))) * 1000000.0 + 0.5)
         / 1000000.0 AS g_stat
FROM star
"""


def bartlett_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for VARIANCE homogeneity across the k event
    types — the precondition check the pooled-variance tests (ANOVA)
    silently assume and Welch works around: B ~ χ²(k−1) under equal
    variances, and a large B says "route to Welch/Kruskal–Wallis, the
    classic F is invalid here".  Completes the location (ANOVA/KW) +
    scale (this) + distribution (KS/CvM) test triad.

    Plan: ONE partial-agg shuffle to k (n, Σ, Σ²) moment cells.
    Exactness: moments fold as exact decimals from micro-quantized
    values; each group's ln(s²) is quantized to 1e-8 integers (one
    libm call per GROUP — the KM/MI idiom) so the k-term fold is
    exact; the Bartlett correction C folds per-group 1/(nᵢ−1) as
    1e-12-quantized integers; B is one mirrored double division."""
    e = table(spark, sf_dir, "events")
    cells = pin(
        e.select("event_type", to_micro(F.col("value")).alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
            F.sum(
                (F.col("v").cast("decimal(38,0)") * F.col("v")).cast(
                    "decimal(38,0)"
                )
            ).alias("q"),
        )
    )
    # per-group sample variance in REAL units, quantized to 1e-6 ints:
    # n·Q − S² is exact decimal; ONE double conversion per group, then
    # every downstream fold is integer (variance is corpus-size-
    # independent, so the quantized magnitude never outgrows int64)
    ssn = F.col("n").cast("decimal(38,0)") * F.col("q") - F.col("s") * F.col("s")
    # ssn/(n(n-1)) is the variance in MICRO^2 units (1e12 x real);
    # dividing by 1e6 leaves real-variance x 1e6 — the quantized int
    s2q = (
        ssn.cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        / F.lit(1.0e6)
    ).cast("long")
    per = cells.select(
        "n",
        s2q.alias("s2q"),
        (F.lit(1.0e12) / (F.col("n") - 1).cast("double")).cast("long").alias(
            "inv_q"
        ),
    ).select(
        "n",
        "s2q",
        "inv_q",
        (F.log(F.col("s2q").cast("double") / F.lit(1.0e6)) * F.lit(1.0e8))
        .cast("long")
        .alias("ln_q"),
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum((F.col("n") - 1) * F.col("ln_q")).alias("sl"),
        F.sum((F.col("n") - 1).cast("decimal(38,0)") * F.col("s2q")).alias(
            "ssq_tot"
        ),
        F.sum("inv_q").alias("sinv"),
    )
    sp2 = (
        F.col("ssq_tot").cast("double")
        / (F.col("nn") - F.col("k")).cast("double")
        / F.lit(1.0e6)
    )
    lp_q = (F.log(sp2) * F.lit(1.0e8)).cast("long")
    num = (
        ((F.col("nn") - F.col("k")) * lp_q - F.col("sl")).cast("double")
        / F.lit(1.0e8)
    )
    c = F.lit(1.0) + (
        F.col("sinv").cast("double") / F.lit(1.0e12)
        - F.lit(1.0) / (F.col("nn") - F.col("k")).cast("double")
    ) / (F.lit(3.0) * (F.col("k") - 1).cast("double"))
    return agg.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n_events"),
        _floor_round(num / c, 6).alias("b_stat"),
        (F.col("k") - 1).cast("long").alias("df"),
    )


ORACLE_BARTLETT_EVENT_VALUES = """
WITH cells AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(trunc(value * 1000000) AS BIGINT)) AS HUGEINT) AS s,
         SUM(CAST(CAST(trunc(value * 1000000) AS BIGINT) AS HUGEINT)
             * CAST(trunc(value * 1000000) AS BIGINT)) AS q
  FROM events GROUP BY event_type
), per AS (
  SELECT n,
         CAST(trunc(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                    / 1000000.0) AS BIGINT) AS s2q,
         CAST(trunc(1000000000000.0 / CAST(n - 1 AS DOUBLE)) AS BIGINT)
           AS inv_q
  FROM cells
), per2 AS (
  SELECT n, s2q, inv_q,
         CAST(trunc(ln(CAST(s2q AS DOUBLE) / 1000000.0) * 100000000.0)
              AS BIGINT) AS ln_q
  FROM per
), agg AS (
  SELECT COUNT(*) AS k, SUM(n) AS nn, SUM((n - 1) * ln_q) AS sl,
         SUM(CAST(n - 1 AS HUGEINT) * s2q) AS ssq_tot, SUM(inv_q) AS sinv
  FROM per2
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(nn AS BIGINT) AS n_events,
       sign((CAST((nn - k) * CAST(trunc(ln(CAST(ssq_tot AS DOUBLE)
                                           / CAST(nn - k AS DOUBLE)
                                           / 1000000.0)
                                        * 100000000.0) AS BIGINT) - sl
                  AS DOUBLE) / 100000000.0)
            / (1.0 + (CAST(sinv AS DOUBLE) / 1000000000000.0
                      - 1.0 / CAST(nn - k AS DOUBLE))
                     / (3.0 * CAST(k - 1 AS DOUBLE))))
       * floor(abs((CAST((nn - k) * CAST(trunc(ln(CAST(ssq_tot AS DOUBLE)
                                           / CAST(nn - k AS DOUBLE)
                                           / 1000000.0)
                                        * 100000000.0) AS BIGINT) - sl
                  AS DOUBLE) / 100000000.0)
            / (1.0 + (CAST(sinv AS DOUBLE) / 1000000000000.0
                      - 1.0 / CAST(nn - k AS DOUBLE))
                     / (3.0 * CAST(k - 1 AS DOUBLE)))) * 1000000.0 + 0.5)
         / 1000000.0 AS b_stat,
       CAST(k - 1 AS BIGINT) AS df
FROM agg
"""


def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's k-sample median test: do the event types share a common
    MEDIAN?  The maximally-robust location test (only above/below
    counts enter — a single corrupted tail cannot move it, where even
    Kruskal–Wallis shifts), and the χ² contingency completion of the
    exact-median machinery.  Values exactly AT the grand median are
    dropped (the standard convention); the above/below split uses the
    DOUBLED-median integer comparator — no division anywhere.

    Plan: the grand median comes from operators/quantiles.rank2_map
    (two-level bucket ranks, nothing corpus-sized on one task) via two
    order-statistic lookups; the contingency is then one k×2 count
    aggregation.  Exactness: all counts exact integers; per-cell χ²
    terms quantize to 1e-8 before the fold."""
    from data_ingestion_project_spark.operators.quantiles import rank2_map

    e = table(spark, sf_dir, "events")
    vals = pin(e.select("event_type", to_micro(F.col("value")).alias("v")))
    ranks = rank2_map(vals, "v", bucket_width=10_000_000)
    nn = vals.agg(F.count(F.lit(1)).alias("n"))
    # cumulative-count bounds per distinct value from the doubled rank:
    # #smaller = (r2 - cnt - 1) / 2, cum = #smaller + cnt
    rr = ranks.crossJoin(F.broadcast(nn)).select(
        "v",
        ((F.col("r2") - F.col("cnt") - 1) / 2).cast("long").alias("lo"),
        ((F.col("r2") - F.col("cnt") - 1) / 2 + F.col("cnt"))
        .cast("long")
        .alias("cum"),
        "n",
    )
    r1 = F.floor((F.col("n") + 1) / 2)
    r2k = F.floor(F.col("n") / 2) + 1
    med2 = rr.agg(
        (
            F.sum(F.when((F.col("lo") < r1) & (r1 <= F.col("cum")), F.col("v")))
            + F.sum(
                F.when((F.col("lo") < r2k) & (r2k <= F.col("cum")), F.col("v"))
            )
        ).alias("m2")
    )
    cls = (
        vals.crossJoin(F.broadcast(med2))
        .filter(2 * F.col("v") != F.col("m2"))
        .groupBy("event_type")
        .agg(
            F.sum((2 * F.col("v") > F.col("m2")).cast("int")).alias("a"),
            F.sum((2 * F.col("v") < F.col("m2")).cast("int")).alias("b"),
        )
    )
    tot = cls.agg(
        F.sum("a").alias("ta"), F.sum("b").alias("tb"), F.count(F.lit(1)).alias("k")
    )
    nj = F.col("a") + F.col("b")
    grand = (F.col("ta") + F.col("tb")).cast("double")
    ea = nj.cast("double") * F.col("ta").cast("double") / grand
    eb = nj.cast("double") * F.col("tb").cast("double") / grand
    term = (
        (
            (F.col("a").cast("double") - ea) * (F.col("a").cast("double") - ea) / ea
            + (F.col("b").cast("double") - eb) * (F.col("b").cast("double") - eb)
            / eb
        )
        * F.lit(1.0e8)
    ).cast("long")
    folded = (
        cls.crossJoin(F.broadcast(tot))
        .select("k", (F.col("ta") + F.col("tb")).alias("n_used"), term.alias("tq"))
        .groupBy("k", "n_used")
        .agg(F.sum(F.col("tq").cast("decimal(38,0)")).alias("st"))
    )
    return folded.crossJoin(F.broadcast(med2)).select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n_used").cast("long").alias("n_used"),
        (F.col("m2").cast("double") / F.lit(2.0) / F.lit(1.0e6)).alias(
            "grand_median"
        ),
        _floor_round(F.col("st").cast("double") / F.lit(1.0e8), 6).alias(
            "chi2"
        ),
        (F.col("k") - 1).cast("long").alias("df"),
    )


ORACLE_MOOD_MEDIAN_TEST = """
WITH vals AS (
  SELECT event_type, CAST(trunc(value * 1000000) AS BIGINT) AS v FROM events
), ranks AS (
  SELECT v AS rv, COUNT(*) AS c,
         2 * COALESCE(SUM(COUNT(*)) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0)
           + COUNT(*) + 1 AS r2
  FROM vals GROUP BY v
), nn AS (SELECT COUNT(*) AS n FROM vals),
rr AS (
  SELECT rv, (r2 - c - 1) // 2 AS lo, (r2 - c - 1) // 2 + c AS cum, n
  FROM ranks CROSS JOIN nn
), med2 AS (
  SELECT SUM(CASE WHEN lo < (n + 1) // 2 AND (n + 1) // 2 <= cum
                  THEN rv END)
         + SUM(CASE WHEN lo < n // 2 + 1 AND n // 2 + 1 <= cum
                    THEN rv END) AS m2
  FROM rr
), cls AS (
  SELECT event_type,
         SUM(CASE WHEN 2 * v > m2 THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN 2 * v < m2 THEN 1 ELSE 0 END) AS b
  FROM vals CROSS JOIN med2
  WHERE 2 * v <> m2
  GROUP BY event_type
), tot AS (
  SELECT SUM(a) AS ta, SUM(b) AS tb, COUNT(*) AS k FROM cls
), folded AS (
  SELECT k, ta + tb AS n_used,
         SUM(CAST(trunc((
           (CAST(a AS DOUBLE) - (a + b) * CAST(ta AS DOUBLE)
              / CAST(ta + tb AS DOUBLE))
           * (CAST(a AS DOUBLE) - (a + b) * CAST(ta AS DOUBLE)
              / CAST(ta + tb AS DOUBLE))
           / ((a + b) * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
           + (CAST(b AS DOUBLE) - (a + b) * CAST(tb AS DOUBLE)
              / CAST(ta + tb AS DOUBLE))
           * (CAST(b AS DOUBLE) - (a + b) * CAST(tb AS DOUBLE)
              / CAST(ta + tb AS DOUBLE))
           / ((a + b) * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
         ) * 100000000.0) AS BIGINT)) AS st
  FROM cls CROSS JOIN tot
  GROUP BY k, ta + tb
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(n_used AS BIGINT) AS n_used,
       CAST(m2 AS DOUBLE) / 2.0 / 1000000.0 AS grand_median,
       sign(CAST(st AS DOUBLE) / 100000000.0)
       * floor(abs(CAST(st AS DOUBLE) / 100000000.0) * 1000000.0 + 0.5)
         / 1000000.0 AS chi2,
       CAST(k - 1 AS BIGINT) AS df
FROM folded CROSS JOIN med2
"""


def acf_panel_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue, lags 1..14, each
    with its Bartlett standard error and significance flag — the
    per-lag PANEL the portmanteau tests summarize away (ljung_box
    says "some correlation exists in the first k lags"; the ACF says
    WHICH lags, with the growing Bartlett band that accounts for the
    correlation already found at shorter lags — the plot every
    forecasting postmortem starts from, as a table).

    Exactness: centered products are folded EXACTLY by clearing the
    mean's denominator — Σ(n·yₜ − S)(n·yₜ₊ₖ − S) in DECIMAL(38,0)
    (n·y ≈ 2.4e14, products ≈ 6e28: in range) — so every r_k is one
    division of exact integers, floor-rounded at 6 dp BEFORE the
    Bartlett recursion; SE_k = √((1 + 2Σ_{j<k} r_j²)/n) then runs on
    the 1e-6-grid quantized r's via a lag-ordered running window (a
    sequential left fold in both engines), and the significance
    compare uses both sides quantized. Missing calendar days simply
    contribute no pair (documented; this corpus is gap-free).

    Plan: ONE orders shuffle to the daily frame; a 14-way lag explode
    + self-equi-join on shifted dates (≤ 14 × days rows,
    calendar-bounded); scalar arithmetic on 14 rows after."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("y"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    _d38 = "decimal(38,0)"
    base = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        (F.col("n").cast(_d38) * F.col("y").cast(_d38) - F.col("s").cast(_d38)).alias(
            "c"
        ),
        "n",
    )
    den = base.agg(F.sum(F.col("c") * F.col("c")).alias("den"))
    lagged = base.select(
        "d", F.col("c").alias("ca"), F.explode(F.sequence(F.lit(1), F.lit(14))).alias("k")
    ).withColumn("d2", F.date_add("d", F.col("k")))
    b = base.select(F.col("d").alias("d2"), F.col("c").alias("cb"))
    nums = (
        lagged.join(b, "d2")
        .groupBy("k")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("num"))
    )
    rq = (
        nums.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot.select("n")))
        .select(
            "k",
            "n",
            _floor_round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("r"),
        )
    )
    wk = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    out = rq.select(
        "k",
        "r",
        F.sqrt(
            (
                F.lit(1.0)
                + F.lit(2.0)
                * F.coalesce(F.sum(F.col("r") * F.col("r")).over(wk), F.lit(0.0))
            )
            / F.col("n").cast("double")
        ).alias("se_raw"),
    )
    se = _floor_round(F.col("se_raw"), 6)
    return out.select(
        F.col("k").cast("long").alias("lag"),
        "r",
        se.alias("bartlett_se"),
        (F.abs(F.col("r")) > _floor_round(F.lit(1.96) * F.col("se_raw"), 6)).alias(
            "significant"
        ),
    ).orderBy("lag")


ORACLE_ACF_PANEL_REVENUE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders GROUP BY 1
), tot AS (SELECT COUNT(*) AS n, SUM(y) AS s FROM daily),
base AS (
  SELECT d, CAST(n AS HUGEINT) * y - s AS c, n
  FROM daily CROSS JOIN tot
), den AS (SELECT SUM(c * c) AS den FROM base),
lagged AS (
  SELECT base.d, base.c AS ca, lk.k AS k, base.d + lk.k * INTERVAL 1 DAY AS d2
  FROM base, (SELECT unnest(range(1, 15)) AS k) lk
), nums AS (
  SELECT k, SUM(ca * cb) AS num
  FROM lagged JOIN (SELECT d AS d2, c AS cb FROM base) b USING (d2)
  GROUP BY k
), rq AS (
  SELECT k, CAST(n AS BIGINT) AS n,
         sign(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
           * floor(abs(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0 AS r
  FROM nums CROSS JOIN den CROSS JOIN tot
), se AS (
  SELECT k, n, r,
         sqrt((1.0 + 2.0 * COALESCE(SUM(r * r) OVER (
                ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0.0)) / CAST(n AS DOUBLE)) AS se_raw
  FROM rq
)
SELECT CAST(k AS BIGINT) AS lag, r,
       sign(se_raw) * floor(abs(se_raw) * 1000000.0 + 0.5) / 1000000.0
         AS bartlett_se,
       abs(r) > sign(1.96 * se_raw)
                * floor(abs(1.96 * se_raw) * 1000000.0 + 0.5) / 1000000.0
         AS significant
FROM se ORDER BY lag
"""


def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift statistic on daily revenue, both directions
    — the SEQUENTIAL drift detector next to the retrospective
    changepoint family (pettitt locates one break, cusum one mean
    shift; PH is the running excursion U_t = Σ(xᵢ − x̄ᵢ) whose lift
    above its own running minimum is what an online monitor alarms
    on). Reported parameter-free (δ = 0, documented): the MAXIMUM
    excursion max_t(U_t − min_{s≤t} U_s) and its day, for upward
    drift, plus the mirrored statistic on −x for downward — an alarm
    threshold λ then just thresholds these numbers.

    Exactness: per-day term xᵢ − Sᵢ/i is value-determined off the
    exact integer cent prefix (one division), micro-quantized to
    int64 BEFORE the cumulative fold, so U_t, its running min, and
    the excursions are exact integers; output converts once to
    dollars at 4 dp. Argmax runs on the quantized integers with a
    day tie-break.

    Plan: the prefix/min windows run over the calendar-bounded daily
    frame (sanctioned); one orders shuffle feeds it."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    wl = Window.orderBy("d")
    wc = wl.rowsBetween(Window.unboundedPreceding, 0)
    base = daily.select(
        "d",
        "cents",
        F.sum("cents").over(wc).alias("s"),
        F.row_number().over(wl).alias("i"),
    ).select(
        "d",
        (
            (
                F.col("cents").cast("double")
                - F.col("s").cast("double") / F.col("i").cast("double")
            )
            * F.lit(1e6)
        )
        .cast("long")
        .alias("term_q"),
    )
    cum = base.select(
        "d",
        F.sum("term_q").over(wc).alias("u"),
    ).select(
        "d",
        "u",
        (F.col("u") - F.min("u").over(wc)).alias("exc_up"),
        (F.max("u").over(wc) - F.col("u")).alias("exc_down"),
    )
    up = (
        cum.orderBy(F.col("exc_up").desc(), F.col("d").asc())
        .limit(1)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day_up"),
            (F.col("exc_up").cast("double") / F.lit(1e8)).alias("ph_up_dollars"),
        )
    )
    down = (
        cum.orderBy(F.col("exc_down").desc(), F.col("d").asc())
        .limit(1)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day_down"),
            (F.col("exc_down").cast("double") / F.lit(1e8)).alias(
                "ph_down_dollars"
            ),
        )
    )
    n = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        n.crossJoin(F.broadcast(up))
        .crossJoin(F.broadcast(down))
        .select(
            "n_days",
            "day_up",
            _floor_round(F.col("ph_up_dollars"), 4).alias("ph_up_dollars"),
            "day_down",
            _floor_round(F.col("ph_down_dollars"), 4).alias("ph_down_dollars"),
        )
    )


ORACLE_PAGE_HINKLEY_DRIFT = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), base AS (
  SELECT d,
         CAST(trunc((CAST(cents AS DOUBLE)
               - CAST(SUM(cents) OVER w AS DOUBLE)
                 / CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE))
              * 1000000.0) AS BIGINT) AS term_q
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), cum AS (
  SELECT d, SUM(term_q) OVER w AS u
  FROM base
  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), exc AS (
  SELECT d, u,
         u - MIN(u) OVER w AS exc_up,
         MAX(u) OVER w - u AS exc_down
  FROM cum
  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), up AS (
  SELECT strftime(d, '%Y-%m-%d') AS day_up,
         CAST(exc_up AS DOUBLE) / 100000000.0 AS ph_up
  FROM exc ORDER BY exc_up DESC, d ASC LIMIT 1
), down AS (
  SELECT strftime(d, '%Y-%m-%d') AS day_down,
         CAST(exc_down AS DOUBLE) / 100000000.0 AS ph_down
  FROM exc ORDER BY exc_down DESC, d ASC LIMIT 1
), n AS (SELECT COUNT(*) AS n_days FROM daily)
SELECT CAST(n_days AS BIGINT) AS n_days, day_up,
       sign(ph_up) * floor(abs(ph_up) * 10000.0 + 0.5) / 10000.0
         AS ph_up_dollars,
       day_down,
       sign(ph_down) * floor(abs(ph_down) * 10000.0 + 0.5) / 10000.0
         AS ph_down_dollars
FROM n CROSS JOIN up CROSS JOIN down
"""


def theils_u_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient over the event_type × ISO-dow
    contingency — the ASYMMETRIC, information-theoretic companion to
    chisq_event_dow and cramers_v_matrix: U(X|Y) = I(X;Y)/H(X) reads
    "what fraction of event-type entropy does knowing the weekday
    remove?", and the two directions differ (Cramér's V cannot say
    WHICH variable predicts which).

    Exactness: every entropy is folded as the exact INTEGER
    H_scaled = N·q(N) − Σ n·q(n) with q = round(ln·1e8) (one libm call
    per DISTINCT count — the lexical_richness idiom); the N·1e8
    denominators cancel in every ratio, so U values are single
    divisions of exact integers, floor-rounded at 6 dp.

    Scale: one partial-agg shuffle to ≤ |types|×7 cells; everything
    else is cell arithmetic."""
    e = table(spark, sf_dir, "events")
    cells = pin(
        e.groupBy(
            "event_type", (F.expr("weekday(ts)") + F.lit(1)).alias("dow")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _d38 = "decimal(38,0)"

    def _q(col: Column) -> Column:
        return F.round(F.log(col.cast("double")) * F.lit(1e8), 0).cast("long")

    def _hs(df: DataFrame, cnt: str) -> DataFrame:
        # Σ n·q(n) over the frame, as one exact decimal
        return df.agg(
            F.sum(F.col(cnt).cast(_d38) * _q(F.col(cnt)).cast(_d38)).alias("s")
        )

    rows_h = _hs(cells.groupBy("event_type").agg(F.sum("n").alias("r")), "r")
    cols_h = _hs(cells.groupBy("dow").agg(F.sum("n").alias("c")), "c")
    cells_h = _hs(cells, "n")
    tot = cells.agg(F.sum("n").alias("n_tot"))
    g = (
        tot.crossJoin(F.broadcast(rows_h.select(F.col("s").alias("sr"))))
        .crossJoin(F.broadcast(cols_h.select(F.col("s").alias("sc"))))
        .crossJoin(F.broadcast(cells_h.select(F.col("s").alias("sxy"))))
    )
    nq = F.col("n_tot").cast(_d38) * _q(F.col("n_tot")).cast(_d38)
    hx = (nq - F.col("sr")).cast("double")
    hy = (nq - F.col("sc")).cast("double")
    hxy = (nq - F.col("sxy")).cast("double")
    mi = hx + hy - hxy
    denom = F.col("n_tot").cast("double") * F.lit(1e8)
    return g.select(
        F.col("n_tot").cast("long").alias("n"),
        _floor_round(hx / denom, 6).alias("h_event_type"),
        _floor_round(hy / denom, 6).alias("h_dow"),
        _floor_round(mi / denom, 6).alias("mutual_info"),
        _floor_round(mi / hx, 6).alias("u_type_given_dow"),
        _floor_round(mi / hy, 6).alias("u_dow_given_type"),
        _floor_round(F.lit(2.0) * mi / (hx + hy), 6).alias("u_symmetric"),
    )


ORACLE_THEILS_U_EVENT_DOW = """
WITH cells AS (
  SELECT event_type, CAST(isodow(ts) AS INTEGER) AS dow, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), tot AS (SELECT SUM(n) AS n_tot FROM cells),
rows_h AS (
  SELECT SUM(CAST(r AS HUGEINT)
             * CAST(round(ln(CAST(r AS DOUBLE)) * 100000000.0) AS BIGINT)) AS sr
  FROM (SELECT SUM(n) AS r FROM cells GROUP BY event_type)
), cols_h AS (
  SELECT SUM(CAST(c AS HUGEINT)
             * CAST(round(ln(CAST(c AS DOUBLE)) * 100000000.0) AS BIGINT)) AS sc
  FROM (SELECT SUM(n) AS c FROM cells GROUP BY dow)
), cells_h AS (
  SELECT SUM(CAST(n AS HUGEINT)
             * CAST(round(ln(CAST(n AS DOUBLE)) * 100000000.0) AS BIGINT)) AS sxy
  FROM cells
), g AS (
  SELECT CAST(n_tot AS BIGINT) AS n,
         CAST(CAST(n_tot AS HUGEINT)
              * CAST(round(ln(CAST(n_tot AS DOUBLE)) * 100000000.0) AS BIGINT)
              - sr AS DOUBLE) AS hx,
         CAST(CAST(n_tot AS HUGEINT)
              * CAST(round(ln(CAST(n_tot AS DOUBLE)) * 100000000.0) AS BIGINT)
              - sc AS DOUBLE) AS hy,
         CAST(CAST(n_tot AS HUGEINT)
              * CAST(round(ln(CAST(n_tot AS DOUBLE)) * 100000000.0) AS BIGINT)
              - sxy AS DOUBLE) AS hxy,
         CAST(n_tot AS DOUBLE) * 100000000.0 AS denom
  FROM tot CROSS JOIN rows_h CROSS JOIN cols_h CROSS JOIN cells_h
)
SELECT n,
       sign(hx / denom) * floor(abs(hx / denom) * 1000000.0 + 0.5) / 1000000.0
         AS h_event_type,
       sign(hy / denom) * floor(abs(hy / denom) * 1000000.0 + 0.5) / 1000000.0
         AS h_dow,
       sign((hx + hy - hxy) / denom)
         * floor(abs((hx + hy - hxy) / denom) * 1000000.0 + 0.5) / 1000000.0
         AS mutual_info,
       sign((hx + hy - hxy) / hx)
         * floor(abs((hx + hy - hxy) / hx) * 1000000.0 + 0.5) / 1000000.0
         AS u_type_given_dow,
       sign((hx + hy - hxy) / hy)
         * floor(abs((hx + hy - hxy) / hy) * 1000000.0 + 0.5) / 1000000.0
         AS u_dow_given_type,
       sign(2.0 * (hx + hy - hxy) / (hx + hy))
         * floor(abs(2.0 * (hx + hy - hxy) / (hx + hy)) * 1000000.0 + 0.5)
         / 1000000.0 AS u_symmetric
FROM g
"""


def brown_forsythe_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene with MEDIAN centers) for equal
    VARIANCE of event value across the five event types — the
    k-sample robust dispersion member between Bartlett (normal-theory,
    k-sample, outlier-fragile) and the two-sample squared-rank test:
    a one-way ANOVA on |x − median(group)|, immune to the heavy tails
    real revenue values have.

    Exactness: micro-cent values; each group's DOUBLED median comes
    from the exact counted order statistics (bucket-prefix cumulative,
    partitioned by group — nothing corpus-sized in one task), so the
    doubled deviation z = |2v − m2_g| is an exact INTEGER; the ANOVA
    needs only Σz and Σz² per group (DECIMAL(38,0) folds, cast-first)
    and F = (SSB/(k−1))/(SSW/(N−k)) is one mirrored IEEE expression,
    floor-rounded at 6 dp.

    Scale: one conditional-count pass to the per-(group, value) frame;
    group-partitioned two-level windows; scalar arithmetic after."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        F.col("event_type").alias("g"), to_micro(F.col("value")).alias("v")
    )
    vc = base.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    ng = base.groupBy("g").agg(F.count(F.lit(1)).alias("n_g"))
    vcb = vc.withColumn("b", F.expr("v DIV 10000000"))
    bp = vcb.groupBy("g", "b").agg(F.sum("c").alias("bc"))
    wb = (
        Window.partitionBy("g")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = bp.select(
        "g", "b", F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("p")
    )
    wv = (
        Window.partitionBy("g", "b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        vcb.join(prefix, ["g", "b"])
        .withColumn("prior", F.col("p") + F.coalesce(F.sum("c").over(wv), F.lit(0)))
        .join(F.broadcast(ng), "g")
    )
    k1 = F.expr("(n_g + 1) DIV 2")
    k2 = F.expr("n_g DIV 2 + 1")
    med2 = cum.groupBy("g").agg(
        (
            F.sum(
                F.when(
                    (F.col("prior") < k1) & (F.col("prior") + F.col("c") >= k1),
                    F.col("v"),
                )
            )
            + F.sum(
                F.when(
                    (F.col("prior") < k2) & (F.col("prior") + F.col("c") >= k2),
                    F.col("v"),
                )
            )
        ).alias("m2")
    )
    _d38 = "decimal(38,0)"
    dev = vc.join(F.broadcast(med2), "g").select(
        "g",
        "c",
        F.abs(2 * F.col("v") - F.col("m2")).alias("z"),
    )
    per_g = dev.groupBy("g").agg(
        F.sum("c").alias("n_g"),
        F.sum(F.col("c").cast(_d38) * F.col("z").cast(_d38)).alias("s1"),
        F.sum(
            F.col("c").cast(_d38) * F.col("z").cast(_d38) * F.col("z").cast(_d38)
        ).alias("s2"),
    )
    # ssb_raw sums k per-group DOUBLES — fold them in group order via
    # an ordered array reduce so both engines add in the same sequence
    # (a bare SUM of doubles is partial-agg-order-dependent)
    g = per_g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum(F.col("s1")).alias("gs1"),
        F.sum(F.col("s2")).alias("gs2"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("g"),
                        (
                            F.col("s1").cast("double")
                            * F.col("s1").cast("double")
                            / F.col("n_g").cast("double")
                        ).alias("term"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("ssb_raw"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    gm = F.col("gs1").cast("double") * F.col("gs1").cast("double") / nd
    ssb = F.col("ssb_raw") - gm
    sst = F.col("gs2").cast("double") - gm
    fstat = (ssb / (kd - F.lit(1.0))) / ((sst - ssb) / (nd - kd))
    return g.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").cast("long").alias("n"),
        _floor_round(fstat, 6).alias("f_stat"),
    )


ORACLE_BROWN_FORSYTHE_EVENT_VALUES = """
WITH base AS (
  SELECT event_type AS g, CAST(trunc(value * 1000000) AS BIGINT) AS v
  FROM events
), vc AS (
  SELECT g, v, COUNT(*) AS c FROM base GROUP BY g, v
), ng AS (SELECT g, COUNT(*) AS n_g FROM base GROUP BY g),
cum AS (
  SELECT vc.g, v, c,
         COALESCE(SUM(c) OVER (PARTITION BY vc.g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior,
         ng.n_g
  FROM vc JOIN ng ON ng.g = vc.g
), med2 AS (
  SELECT g,
         SUM(CASE WHEN prior < (n_g + 1) // 2
                   AND prior + c >= (n_g + 1) // 2 THEN v END)
         + SUM(CASE WHEN prior < n_g // 2 + 1
                     AND prior + c >= n_g // 2 + 1 THEN v END) AS m2
  FROM cum GROUP BY g
), dev AS (
  SELECT vc.g, c, abs(2 * v - m2) AS z
  FROM vc JOIN med2 ON med2.g = vc.g
), per_g AS (
  SELECT g, SUM(c) AS n_g,
         SUM(CAST(c AS HUGEINT) * z) AS s1,
         SUM(CAST(c AS HUGEINT) * z * z) AS s2
  FROM dev GROUP BY g
), gg AS (
  SELECT COUNT(*) AS k, SUM(n_g) AS n, SUM(s1) AS gs1, SUM(s2) AS gs2,
         list_reduce(
           list(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_g AS DOUBLE)
                ORDER BY g),
           (a, b) -> a + b) AS ssb_raw
  FROM per_g
), d AS (
  SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n,
         CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd,
         ssb_raw - CAST(gs1 AS DOUBLE) * CAST(gs1 AS DOUBLE) / CAST(n AS DOUBLE)
           AS ssb,
         CAST(gs2 AS DOUBLE)
           - CAST(gs1 AS DOUBLE) * CAST(gs1 AS DOUBLE) / CAST(n AS DOUBLE) AS sst
  FROM gg
)
SELECT k_groups, n,
       sign((ssb / (kd - 1.0)) / ((sst - ssb) / (nd - kd)))
       * floor(abs((ssb / (kd - 1.0)) / ((sst - ssb) / (nd - kd)))
               * 1000000.0 + 0.5) / 1000000.0 AS f_stat
FROM d
"""


def quandt_chow_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quandt likelihood-ratio scan (sup-Chow) for a STRUCTURAL BREAK
    in the daily-revenue trend: fit y = a + b·t, and for every
    candidate break inside the central 70% of the sample compare the
    pooled SSE against the two-segment fit with the Chow F statistic
    F(k) = ((SSE_p − SSE₁ − SSE₂)/2)/((SSE₁+SSE₂)/(n−4)); report the
    argmax day and the sup-F. Where pettitt_changepoint ranks a
    LEVEL shift nonparametrically and cusum a mean drift, this prices
    a broken TREND LINE — the regression-world changepoint.

    Exactness: prefix moments (m, Σt, Σy, Σt², Σty, Σy²) accumulate
    in DECIMAL(38,0) over the calendar-bounded daily frame
    (sanctioned window); each segment SSE and F(k) is a mirrored IEEE
    expression over those exact integers; F is floor-rounded at 6 dp
    BEFORE the argmax so both engines rank identical values, ties
    break on the earlier day; the scan is TakeOrdered-bounded.

    Scale: the scan is over candidate DAYS (calendar-bounded), not
    rows; one orders shuffle feeds it."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    _d38 = "decimal(38,0)"
    wl = Window.orderBy("d")
    wc = wl.rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "d",
        F.row_number().over(wl).alias("t"),
        "cents",
    ).select(
        "d",
        "t",
        F.sum(F.lit(1).cast(_d38)).over(wc).alias("m1"),
        F.sum(F.col("t").cast(_d38)).over(wc).alias("sx1"),
        F.sum(F.col("cents").cast(_d38)).over(wc).alias("sy1"),
        F.sum(F.col("t").cast(_d38) * F.col("t").cast(_d38)).over(wc).alias("sxx1"),
        F.sum(F.col("t").cast(_d38) * F.col("cents").cast(_d38))
        .over(wc)
        .alias("sxy1"),
        F.sum(F.col("cents").cast(_d38) * F.col("cents").cast(_d38))
        .over(wc)
        .alias("syy1"),
    )
    tot = pre.orderBy(F.col("t").desc()).limit(1).select(
        F.col("m1").alias("m"),
        F.col("sx1").alias("sx"),
        F.col("sy1").alias("sy"),
        F.col("sxx1").alias("sxx"),
        F.col("sxy1").alias("sxy"),
        F.col("syy1").alias("syy"),
    )

    def _sse(m, sx, sy, sxx, sxy, syy):
        md = m.cast("double")
        sxc = sxx.cast("double") - sx.cast("double") * sx.cast("double") / md
        syc = syy.cast("double") - sy.cast("double") * sy.cast("double") / md
        sxyc = sxy.cast("double") - sx.cast("double") * sy.cast("double") / md
        return syc - sxyc * sxyc / sxc

    scan = pre.crossJoin(F.broadcast(tot))
    nd = F.col("m").cast("double")
    lo = F.ceil(nd * F.lit(0.15))
    hi = F.floor(nd * F.lit(0.85))
    sse1 = _sse(
        F.col("m1"), F.col("sx1"), F.col("sy1"),
        F.col("sxx1"), F.col("sxy1"), F.col("syy1"),
    )
    sse2 = _sse(
        F.col("m") - F.col("m1"),
        F.col("sx") - F.col("sx1"),
        F.col("sy") - F.col("sy1"),
        F.col("sxx") - F.col("sxx1"),
        F.col("sxy") - F.col("sxy1"),
        F.col("syy") - F.col("syy1"),
    )
    ssep = _sse(
        F.col("m"), F.col("sx"), F.col("sy"),
        F.col("sxx"), F.col("sxy"), F.col("syy"),
    )
    fstat = ((ssep - sse1 - sse2) / F.lit(2.0)) / (
        (sse1 + sse2) / (nd - F.lit(4.0))
    )
    return (
        scan.filter((F.col("t") >= lo) & (F.col("t") <= hi))
        .select(
            F.col("m").cast("long").alias("n_days"),
            F.col("d").alias("break_day"),
            _floor_round(fstat, 6).alias("sup_f"),
        )
        .orderBy(F.col("sup_f").desc(), F.col("break_day").asc())
        .limit(1)
        .select(
            "n_days",
            F.date_format("break_day", "yyyy-MM-dd").alias("break_day"),
            "sup_f",
        )
    )


ORACLE_QUANDT_CHOW_BREAK = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), num AS (
  SELECT d, cents, ROW_NUMBER() OVER (ORDER BY d) AS t FROM daily
), pre AS (
  SELECT d, t,
         SUM(CAST(1 AS HUGEINT)) OVER w AS m1,
         SUM(CAST(t AS HUGEINT)) OVER w AS sx1,
         SUM(CAST(cents AS HUGEINT)) OVER w AS sy1,
         SUM(CAST(t AS HUGEINT) * t) OVER w AS sxx1,
         SUM(CAST(t AS HUGEINT) * cents) OVER w AS sxy1,
         SUM(CAST(cents AS HUGEINT) * cents) OVER w AS syy1
  FROM num
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT m1 AS m, sx1 AS sx, sy1 AS sy, sxx1 AS sxx, sxy1 AS sxy, syy1 AS syy
  FROM pre ORDER BY t DESC LIMIT 1
), scan AS (
  SELECT pre.*, tot.*,
         CAST(m AS DOUBLE) AS nd
  FROM pre CROSS JOIN tot
), f AS (
  SELECT CAST(m AS BIGINT) AS n_days, d,
         (( (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)
             - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(m AS DOUBLE))
               * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(m AS DOUBLE))
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)))
           - (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(m1 AS DOUBLE)
             - (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(m1 AS DOUBLE))
               * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(m1 AS DOUBLE))
               / (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(m1 AS DOUBLE)))
           - (CAST(syy - syy1 AS DOUBLE) - CAST(sy - sy1 AS DOUBLE) * CAST(sy - sy1 AS DOUBLE) / CAST(m - m1 AS DOUBLE)
             - (CAST(sxy - sxy1 AS DOUBLE) - CAST(sx - sx1 AS DOUBLE) * CAST(sy - sy1 AS DOUBLE) / CAST(m - m1 AS DOUBLE))
               * (CAST(sxy - sxy1 AS DOUBLE) - CAST(sx - sx1 AS DOUBLE) * CAST(sy - sy1 AS DOUBLE) / CAST(m - m1 AS DOUBLE))
               / (CAST(sxx - sxx1 AS DOUBLE) - CAST(sx - sx1 AS DOUBLE) * CAST(sx - sx1 AS DOUBLE) / CAST(m - m1 AS DOUBLE)))
          ) / 2.0)
         / (((CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(m1 AS DOUBLE)
             - (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(m1 AS DOUBLE))
               * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(m1 AS DOUBLE))
               / (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(m1 AS DOUBLE)))
            + (CAST(syy - syy1 AS DOUBLE) - CAST(sy - sy1 AS DOUBLE) * CAST(sy - sy1 AS DOUBLE) / CAST(m - m1 AS DOUBLE)
             - (CAST(sxy - sxy1 AS DOUBLE) - CAST(sx - sx1 AS DOUBLE) * CAST(sy - sy1 AS DOUBLE) / CAST(m - m1 AS DOUBLE))
               * (CAST(sxy - sxy1 AS DOUBLE) - CAST(sx - sx1 AS DOUBLE) * CAST(sy - sy1 AS DOUBLE) / CAST(m - m1 AS DOUBLE))
               / (CAST(sxx - sxx1 AS DOUBLE) - CAST(sx - sx1 AS DOUBLE) * CAST(sx - sx1 AS DOUBLE) / CAST(m - m1 AS DOUBLE))))
           / (nd - 4.0)) AS fv
  FROM scan
  WHERE t >= ceil(nd * 0.15) AND t <= floor(nd * 0.85)
)
SELECT n_days, strftime(d, '%Y-%m-%d') AS break_day,
       sign(fv) * floor(abs(fv) * 1000000.0 + 0.5) / 1000000.0 AS sup_f
FROM f
ORDER BY sign(fv) * floor(abs(fv) * 1000000.0 + 0.5) / 1000000.0 DESC, d ASC
LIMIT 1
"""


def weighted_logrank_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted log-rank panel over the BUILDING-vs-rest churn setup
    of logrank_segment_churn: the classic log-rank (w=1, late-and-
    early equally), Gehan–Breslow–Wilcoxon (w = at-risk count —
    emphasizes EARLY differences where the risk set is large), and
    Tarone–Ware (w = √at-risk, the compromise). One curve pair can
    pass one weighting and fail another — a churn-clock difference
    concentrated in week one is invisible to late-weighted tests, so
    a survival audit runs the panel, not one test.

    Exactness: weights are NORMALIZED by the initial risk set
    (w̃ = nt/N, √(nt/N), 1 — z is scale-invariant in w, and the
    normalized per-day terms stay O(dt), so the 1e-8 micro-
    quantization of each day's w̃(d1−e) and w̃²v never overflows at
    any SF — the logrank_segment_churn fold, made safe for the Gehan
    weight's nt² growth). z = Σw̃(d1−e)/√Σw̃²v, floor-rounded 6 dp.

    Plan: identical to logrank_segment_churn — per-customer lifetimes,
    group-partitioned at-risk prefixes over the calendar-bounded
    lifetime-day frame, then a 3-row panel of scalar folds."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    pu = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("f"),
        F.max(F.to_date("o_orderdate")).alias("l"),
    )
    seg = c.select(
        F.col("c_custkey"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("grp"),
    )
    pu = pu.join(seg, pu.o_custkey == seg.c_custkey)
    end = pu.agg(F.max("l").alias("e"))
    lived = pu.crossJoin(F.broadcast(end)).select(
        "grp",
        F.datediff("l", "f").alias("t_days"),
        (F.datediff("e", "l") >= 90).cast("int").alias("churned"),
    )
    counts = lived.groupBy("grp", "t_days").agg(
        F.sum("churned").alias("deaths"),
        F.sum(F.lit(1) - F.col("churned")).alias("censored"),
    )
    ng = lived.groupBy("grp").agg(F.count(F.lit(1)).alias("n_g"))
    dense = (
        counts.select("t_days")
        .distinct()
        .crossJoin(F.broadcast(counts.select("grp").distinct()))
        .join(counts, ["grp", "t_days"], "left")
        .select(
            "grp",
            "t_days",
            F.coalesce("deaths", F.lit(0)).alias("deaths"),
            F.coalesce("censored", F.lit(0)).alias("censored"),
        )
    )
    w_prior = (
        Window.partitionBy("grp")
        .orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = dense.join(F.broadcast(ng), "grp").select(
        "grp",
        "t_days",
        "deaths",
        (
            F.col("n_g")
            - F.coalesce(
                F.sum(F.col("deaths") + F.col("censored")).over(w_prior), F.lit(0)
            )
        ).alias("at_risk"),
    )
    n_total = lived.agg(F.count(F.lit(1)).alias("n_all"))
    per_day = (
        risk.groupBy("t_days")
        .agg(
            F.sum(F.when(F.col("grp") == 1, F.col("deaths")).otherwise(0)).alias(
                "d1"
            ),
            F.sum("deaths").alias("dt"),
            F.sum(F.when(F.col("grp") == 1, F.col("at_risk")).otherwise(0)).alias(
                "n1"
            ),
            F.sum("at_risk").alias("nt"),
        )
        .filter((F.col("dt") > 0) & (F.col("nt") >= 2))
        .crossJoin(F.broadcast(n_total))
    )
    p1 = F.col("n1").cast("double") / F.col("nt").cast("double")
    oe = F.col("d1").cast("double") - F.col("dt").cast("double") * p1
    v = (
        F.col("dt").cast("double")
        * p1
        * (F.lit(1.0) - p1)
        * (
            (F.col("nt") - F.col("dt")).cast("double")
            / (F.col("nt") - 1).cast("double")
        )
    )
    wt = {
        "gehan": F.col("nt").cast("double") / F.col("n_all").cast("double"),
        "logrank": F.lit(1.0),
        "tarone_ware": F.sqrt(
            F.col("nt").cast("double") / F.col("n_all").cast("double")
        ),
    }
    _dq = "decimal(28,0)"
    rows = []
    for name, w in wt.items():
        folded = per_day.agg(
            F.sum((w * oe * F.lit(1.0e8)).cast("long").cast(_dq)).alias("num_q"),
            F.sum((w * w * v * F.lit(1.0e8)).cast("long").cast(_dq)).alias("var_q"),
        )
        numd = F.col("num_q").cast("double") / F.lit(1.0e8)
        vard = F.col("var_q").cast("double") / F.lit(1.0e8)
        rows.append(
            folded.select(
                F.lit(name).alias("test"),
                _floor_round(numd, 6).alias("weighted_o_minus_e"),
                _floor_round(vard, 6).alias("weighted_var"),
                _floor_round(numd / F.sqrt(vard), 6).alias("z"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("test")


def _sql_wlr_row(label: str, w_expr: str) -> str:
    """One weighted-log-rank panel row: fold the 1e-8-quantized
    per-day terms with weight ``w_expr`` over the per_day relation."""
    oe = "(CAST(d1 AS DOUBLE) - CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE)))"
    v = (
        "(CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))"
        " * (1.0 - CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))"
        " * (CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE)))"
    )
    return f"""
  SELECT '{label}' AS test,
         SUM(CAST(trunc(({w_expr}) * {oe} * 100000000.0) AS BIGINT)) AS num_q,
         SUM(CAST(trunc(({w_expr}) * ({w_expr}) * {v} * 100000000.0) AS BIGINT))
           AS var_q
  FROM per_day
"""


ORACLE_WEIGHTED_LOGRANK_PANEL = f"""
WITH pu AS (
  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS f,
         MAX(CAST(o_orderdate AS DATE)) AS l
  FROM orders GROUP BY o_custkey
), pg AS (
  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp,
         pu.f, pu.l
  FROM pu JOIN customer c ON c.c_custkey = pu.o_custkey
), fin AS (SELECT MAX(l) AS e FROM pg),
lived AS (
  SELECT grp, datediff('day', f, l) AS t_days,
         CASE WHEN datediff('day', l, e) >= 90 THEN 1 ELSE 0 END AS churned
  FROM pg CROSS JOIN fin
), counts AS (
  SELECT grp, t_days, SUM(churned) AS deaths, SUM(1 - churned) AS censored
  FROM lived GROUP BY 1, 2
), ng AS (SELECT grp, COUNT(*) AS n_g FROM lived GROUP BY 1),
n_total AS (SELECT COUNT(*) AS n_all FROM lived),
dense AS (
  SELECT g.grp, d.t_days,
         COALESCE(c.deaths, 0) AS deaths, COALESCE(c.censored, 0) AS censored
  FROM (SELECT DISTINCT t_days FROM counts) d
  CROSS JOIN (SELECT DISTINCT grp FROM counts) g
  LEFT JOIN counts c ON c.grp = g.grp AND c.t_days = d.t_days
), risk AS (
  SELECT dense.grp, t_days, deaths,
         n_g - COALESCE(SUM(deaths + censored) OVER (
                 PARTITION BY dense.grp ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS at_risk
  FROM dense JOIN ng ON ng.grp = dense.grp
), per_day AS (
  SELECT t_days,
         SUM(CASE WHEN grp = 1 THEN deaths ELSE 0 END) AS d1,
         SUM(deaths) AS dt,
         SUM(CASE WHEN grp = 1 THEN at_risk ELSE 0 END) AS n1,
         SUM(at_risk) AS nt,
         MAX(n_all) AS n_all
  FROM risk CROSS JOIN n_total GROUP BY t_days
  HAVING SUM(deaths) > 0 AND SUM(at_risk) >= 2
), folded AS (
  {_sql_wlr_row("gehan", "CAST(nt AS DOUBLE) / CAST(n_all AS DOUBLE)")}
  UNION ALL
  {_sql_wlr_row("logrank", "1.0")}
  UNION ALL
  {_sql_wlr_row("tarone_ware", "sqrt(CAST(nt AS DOUBLE) / CAST(n_all AS DOUBLE))")}
)
SELECT test,
       sign(CAST(num_q AS DOUBLE) / 100000000.0)
       * floor(abs(CAST(num_q AS DOUBLE) / 100000000.0) * 1000000.0 + 0.5)
         / 1000000.0 AS weighted_o_minus_e,
       sign(CAST(var_q AS DOUBLE) / 100000000.0)
       * floor(abs(CAST(var_q AS DOUBLE) / 100000000.0) * 1000000.0 + 0.5)
         / 1000000.0 AS weighted_var,
       sign((CAST(num_q AS DOUBLE) / 100000000.0)
            / sqrt(CAST(var_q AS DOUBLE) / 100000000.0))
       * floor(abs((CAST(num_q AS DOUBLE) / 100000000.0)
            / sqrt(CAST(var_q AS DOUBLE) / 100000000.0)) * 1000000.0 + 0.5)
         / 1000000.0 AS z
FROM folded ORDER BY test
"""


_RMST_TAU = 21  # restricted-mean horizon in days


def rmst_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time of user lifetime at a 21-day
    horizon — the AUC of the Kaplan–Meier curve up to τ, the survival
    family's single-number effect summary ("expected active days in
    the first three weeks"), robust where median survival is undefined
    because the curve never crosses 0.5. Same lifetimes/censoring as
    kaplan_meier_retention (7-day boundary rule).

    Exactness: survival changes only at integer lifetime days, so
    RMST(τ) = Σ_{d=0}^{τ−1} S(d) EXACTLY (unit-interval integral of a
    step function); S(d) comes from the KM ln-quantized cumulative
    hazard (one libm ln per distinct day, integer 1e-8 fold, one exp),
    and each S(d) is micro-quantized before the τ-term sum so the fold
    is an exact integer. Output: τ, n, RMST, S(τ−1).

    Plan: the per-lifetime-day frame is calendar-bounded; the τ-day
    spine (21 rows) joins it with t ≤ d — a broadcast-sized
    triangular join, corpus-independent."""
    e = table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("f"), F.max(F.to_date("ts")).alias("l")
    )
    end = pu.agg(F.max("l").alias("e"))
    lived = pu.crossJoin(F.broadcast(end)).select(
        F.datediff("l", "f").alias("t_days"),
        (F.datediff("e", "l") >= 7).cast("int").alias("churned"),
    )
    lt = lived.groupBy("t_days").agg(
        F.sum("churned").alias("deaths"),
        F.sum(F.lit(1) - F.col("churned")).alias("censored"),
    )
    tot = lived.agg(F.count(F.lit(1)).alias("n"))
    w_prior = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    risk = lt.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "deaths",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("deaths") + F.col("censored")).over(w_prior), F.lit(0)
            )
        ).alias("at_risk"),
    )
    fac = risk.filter(F.col("deaths") > 0).select(
        "t_days",
        F.when(
            F.col("deaths") < F.col("at_risk"),
            F.round(
                F.log(
                    (F.col("at_risk") - F.col("deaths")).cast("double")
                    / F.col("at_risk")
                )
                * 100_000_000,
                0,
            ).cast("long"),
        )
        .otherwise(F.lit(-1_000_000_000_000))
        .alias("li"),
    )
    spine = spark.range(0, _RMST_TAU).select(F.col("id").alias("d"))
    s_at = (
        spine.join(F.broadcast(fac), F.col("t_days") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.coalesce(F.sum("li"), F.lit(0)).alias("cum"))
        .select(
            "d",
            (
                F.exp(F.col("cum").cast("double") / F.lit(1.0e8)) * F.lit(1.0e6)
            )
            .cast("long")
            .alias("s_q"),
        )
    )
    g = s_at.agg(
        F.sum("s_q").alias("rmst_q"),
        F.max(F.when(F.col("d") == _RMST_TAU - 1, F.col("s_q"))).alias("s_tau_q"),
    ).crossJoin(F.broadcast(tot))
    return g.select(
        F.lit(_RMST_TAU).cast("long").alias("tau_days"),
        F.col("n").cast("long").alias("n_users"),
        (F.col("rmst_q").cast("double") / F.lit(1.0e6)).alias("rmst_days"),
        (F.col("s_tau_q").cast("double") / F.lit(1.0e6)).alias("s_at_horizon"),
    )


ORACLE_RMST_RETENTION = f"""
WITH pu AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
  FROM events GROUP BY user_id
), fin AS (SELECT MAX(l) AS e FROM pu),
lived AS (
  SELECT datediff('day', f, l) AS t_days,
         CASE WHEN datediff('day', l, e) >= 7 THEN 1 ELSE 0 END AS churned
  FROM pu CROSS JOIN fin
), lt AS (
  SELECT t_days, SUM(churned) AS deaths, SUM(1 - churned) AS censored
  FROM lived GROUP BY t_days
), tot AS (SELECT COUNT(*) AS n FROM lived),
risk AS (
  SELECT t_days, deaths,
         n - COALESCE(SUM(deaths + censored) OVER (
               ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
  FROM lt CROSS JOIN tot
), fac AS (
  SELECT t_days,
         CASE WHEN deaths < at_risk
              THEN CAST(round(ln(CAST(at_risk - deaths AS DOUBLE)
                                 / at_risk) * 100000000.0) AS BIGINT)
              ELSE -1000000000000 END AS li
  FROM risk WHERE deaths > 0
), s_at AS (
  SELECT d, CAST(trunc(exp(CAST(COALESCE(SUM(li), 0) AS DOUBLE) / 100000000.0)
                 * 1000000.0) AS BIGINT) AS s_q
  FROM (SELECT unnest(range(0, {_RMST_TAU})) AS d) spine
  LEFT JOIN fac ON fac.t_days <= spine.d
  GROUP BY d
), g AS (
  SELECT SUM(s_q) AS rmst_q,
         MAX(CASE WHEN d = {_RMST_TAU - 1} THEN s_q END) AS s_tau_q
  FROM s_at
)
SELECT CAST({_RMST_TAU} AS BIGINT) AS tau_days,
       CAST(n AS BIGINT) AS n_users,
       CAST(rmst_q AS DOUBLE) / 1000000.0 AS rmst_days,
       CAST(s_tau_q AS DOUBLE) / 1000000.0 AS s_at_horizon
FROM g CROSS JOIN tot
"""


def revenue_randomness_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three classical randomness tests on the daily-revenue series in
    one panel — the i.i.d.-ness audit that complements the median-runs
    test (runs_test_revenue) with tests sensitive to different
    departures: TURNING POINTS (too few = sticky regimes, too many =
    oscillation), DIFFERENCE SIGN (counts rises — catches monotone
    drift), and COX–STUART (sign test of each day against its
    half-series partner — catches location shift between the halves).

    Conventions (documented, mirrored in the oracle): strict
    inequalities everywhere; equal neighbors never count as a turning
    point or a rise; Cox–Stuart drops tied pairs and pairs day i with
    day i + ceil(n/2), dropping the middle day of an odd series.

    Exactness: the statistics are integer counts off the cent-exact
    calendar-bounded daily frame; E and Var are rational in n
    (turning: E = 2(n−2)/3, Var = (16n−29)/90; diff-sign:
    E = (n−1)/2, Var = (n+1)/12; Cox–Stuart: z = (2S⁺−k)/√k), so each
    z is one mirrored IEEE expression, floor-rounded at 6 dp.

    Plan: ONE orders shuffle to the ~2.4k-row daily frame; lag/lead
    windows and the half-offset self-join run on that calendar-bounded
    frame (sanctioned — the runs_test_revenue posture)."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    wl = Window.orderBy("d")
    lagged = pin(daily.select(
        "d",
        "cents",
        F.lag("cents").over(wl).alias("prev"),
        F.lead("cents").over(wl).alias("next"),
        F.row_number().over(wl).alias("rn"),
    ))
    nn = lagged.agg(F.count(F.lit(1)).alias("n"))

    tp = lagged.agg(
        F.sum(
            F.when(
                (
                    (F.col("cents") > F.col("prev"))
                    & (F.col("cents") > F.col("next"))
                )
                | (
                    (F.col("cents") < F.col("prev"))
                    & (F.col("cents") < F.col("next"))
                ),
                1,
            ).otherwise(0)
        ).alias("stat")
    ).crossJoin(F.broadcast(nn))
    nd = F.col("n").cast("double")
    sd = F.col("stat").cast("double")
    turning = tp.select(
        F.lit("turning_points").alias("test"),
        F.col("n").cast("long").alias("n_obs"),
        F.col("stat").cast("long").alias("stat"),
        _floor_round(
            (sd - F.lit(2.0) * (nd - F.lit(2.0)) / F.lit(3.0))
            / F.sqrt((F.lit(16.0) * nd - F.lit(29.0)) / F.lit(90.0)),
            6,
        ).alias("z"),
    )
    ds = lagged.agg(
        F.sum(F.when(F.col("cents") > F.col("prev"), 1).otherwise(0)).alias("stat")
    ).crossJoin(F.broadcast(nn))
    diffsign = ds.select(
        F.lit("difference_sign").alias("test"),
        F.col("n").cast("long").alias("n_obs"),
        F.col("stat").cast("long").alias("stat"),
        _floor_round(
            (sd - (nd - F.lit(1.0)) / F.lit(2.0))
            / F.sqrt((nd + F.lit(1.0)) / F.lit(12.0)),
            6,
        ).alias("z"),
    )
    half = lagged.crossJoin(F.broadcast(nn)).select(
        "rn", "cents", (F.col("n") - F.expr("n DIV 2")).alias("off"), "n"
    )
    a, b = half.alias("a"), half.alias("b")
    cs = (
        a.join(
            b,
            (F.col("b.rn") == F.col("a.rn") + F.col("a.off"))
            & (F.col("a.rn") <= F.expr("a.n DIV 2")),
        )
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1).otherwise(0)
            ).alias("s_plus"),
            F.sum(
                F.when(F.col("b.cents") != F.col("a.cents"), 1).otherwise(0)
            ).alias("k"),
        )
        .crossJoin(F.broadcast(nn))
    )
    coxstuart = cs.select(
        F.lit("cox_stuart").alias("test"),
        F.col("n").cast("long").alias("n_obs"),
        F.col("s_plus").cast("long").alias("stat"),
        _floor_round(
            (
                F.lit(2.0) * F.col("s_plus").cast("double")
                - F.col("k").cast("double")
            )
            / F.sqrt(F.col("k").cast("double")),
            6,
        ).alias("z"),
    )
    return turning.unionByName(diffsign).unionByName(coxstuart).orderBy("test")


ORACLE_REVENUE_RANDOMNESS_PANEL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), lagged AS (
  SELECT d, cents,
         LAG(cents) OVER (ORDER BY d) AS prev,
         LEAD(cents) OVER (ORDER BY d) AS next,
         ROW_NUMBER() OVER (ORDER BY d) AS rn
  FROM daily
), nn AS (SELECT COUNT(*) AS n FROM lagged),
tp AS (
  SELECT SUM(CASE WHEN (cents > prev AND cents > next)
                    OR (cents < prev AND cents < next) THEN 1 ELSE 0 END) AS stat
  FROM lagged
), ds AS (
  SELECT SUM(CASE WHEN cents > prev THEN 1 ELSE 0 END) AS stat FROM lagged
), cs AS (
  SELECT SUM(CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END) AS s_plus,
         SUM(CASE WHEN b.cents <> a.cents THEN 1 ELSE 0 END) AS k
  FROM (SELECT rn, cents FROM lagged) a
  JOIN nn ON TRUE
  JOIN (SELECT rn, cents FROM lagged) b
    ON b.rn = a.rn + (nn.n - nn.n // 2)
  WHERE a.rn <= nn.n // 2
)
SELECT * FROM (
  SELECT 'turning_points' AS test,
         CAST(n AS BIGINT) AS n_obs, CAST(stat AS BIGINT) AS stat,
         sign((CAST(stat AS DOUBLE) - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
              / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0))
         * floor(abs((CAST(stat AS DOUBLE) - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
              / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0)) * 1000000.0 + 0.5)
           / 1000000.0 AS z
  FROM tp CROSS JOIN nn
  UNION ALL
  SELECT 'difference_sign',
         CAST(n AS BIGINT), CAST(stat AS BIGINT),
         sign((CAST(stat AS DOUBLE) - (CAST(n AS DOUBLE) - 1.0) / 2.0)
              / sqrt((CAST(n AS DOUBLE) + 1.0) / 12.0))
         * floor(abs((CAST(stat AS DOUBLE) - (CAST(n AS DOUBLE) - 1.0) / 2.0)
              / sqrt((CAST(n AS DOUBLE) + 1.0) / 12.0)) * 1000000.0 + 0.5)
           / 1000000.0
  FROM ds CROSS JOIN nn
  UNION ALL
  SELECT 'cox_stuart',
         CAST(n AS BIGINT), CAST(s_plus AS BIGINT),
         sign((2.0 * CAST(s_plus AS DOUBLE) - CAST(k AS DOUBLE))
              / sqrt(CAST(k AS DOUBLE)))
         * floor(abs((2.0 * CAST(s_plus AS DOUBLE) - CAST(k AS DOUBLE))
              / sqrt(CAST(k AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0
  FROM cs CROSS JOIN nn
)
ORDER BY test
"""


def bartels_rank_vonneumann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels' rank version of the von Neumann ratio — the rank-based
    serial-independence test on daily revenue: RVN = Σ(Rᵢ−Rᵢ₊₁)² /
    Σ(Rᵢ−R̄)². Near 2 for i.i.d. data, < 2 under positive
    autocorrelation (neighbor ranks too close), > 2 under alternation;
    the rank transform makes it immune to the heavy tails that distort
    the plain von Neumann ratio on revenue.

    Exactness: DOUBLED mid-ranks (rank2_map) make both sums exact
    integers (mean of doubled ranks is exactly n+1, so the
    denominator needs no division), RVN is one exact-integer ratio,
    and z = (RVN − 2)/√(4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²)) is a
    mirrored IEEE expression (no-ties null variance — daily revenue
    cents are effectively tie-free; the convention is documented and
    identically replayed).

    Plan: daily frame (calendar-bounded) → per-value rank map join →
    one lag window over ≤ a few thousand rows (sanctioned)."""
    from data_ingestion_project_spark.operators.quantiles import rank2_map

    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    ranks = rank2_map(daily, "cents", bucket_width=10_000_000_000)
    ranked = daily.join(ranks.select(F.col("cents"), "r2"), "cents")
    wl = Window.orderBy("d")
    lagged = ranked.select(
        "d", "r2", F.lead("r2").over(wl).alias("r2_next")
    )
    _d38 = "decimal(38,0)"
    nn = lagged.agg(F.count(F.lit(1)).alias("n"))
    g = lagged.crossJoin(F.broadcast(nn)).agg(
        F.first("n").alias("n"),
        F.sum(
            (
                (F.col("r2") - F.col("r2_next")).cast(_d38)
                * (F.col("r2") - F.col("r2_next")).cast(_d38)
            )
        ).alias("num4"),
        F.sum(
            (F.col("r2") - (F.col("n") + 1)).cast(_d38)
            * (F.col("r2") - (F.col("n") + 1)).cast(_d38)
        ).alias("den4"),
    )
    nd = F.col("n").cast("double")
    rvn = F.col("num4").cast("double") / F.col("den4").cast("double")
    var = (
        F.lit(4.0)
        * (nd - F.lit(2.0))
        * (F.lit(5.0) * nd * nd - F.lit(2.0) * nd - F.lit(9.0))
        / (
            F.lit(5.0)
            * nd
            * (nd + F.lit(1.0))
            * (nd - F.lit(1.0))
            * (nd - F.lit(1.0))
        )
    )
    return g.select(
        F.col("n").cast("long").alias("n_days"),
        _floor_round(rvn, 6).alias("rvn"),
        _floor_round((rvn - F.lit(2.0)) / F.sqrt(var), 6).alias("z"),
    )


ORACLE_BARTELS_RANK_VONNEUMANN = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), ranks AS ({{rank2}}),
ranked AS (
  SELECT d, r2 FROM daily JOIN ranks ON ranks.v = daily.cents
), lagged AS (
  SELECT d, r2, LEAD(r2) OVER (ORDER BY d) AS r2_next FROM ranked
), nn AS (SELECT COUNT(*) AS n FROM lagged),
g AS (
  SELECT MAX(n) AS n,
         SUM(CAST(r2 - r2_next AS HUGEINT) * (r2 - r2_next)) AS num4,
         SUM(CAST(r2 - (n + 1) AS HUGEINT) * (r2 - (n + 1))) AS den4
  FROM lagged CROSS JOIN nn
), d AS (
  SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
         CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE) AS rvn
  FROM g
)
SELECT n AS n_days,
       sign(rvn) * floor(abs(rvn) * 1000000.0 + 0.5) / 1000000.0 AS rvn,
       sign((rvn - 2.0) / sqrt(4.0 * (nd - 2.0) * (5.0 * nd * nd - 2.0 * nd - 9.0)
              / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0))))
       * floor(abs((rvn - 2.0) / sqrt(4.0 * (nd - 2.0) * (5.0 * nd * nd - 2.0 * nd - 9.0)
              / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0)))) * 1000000.0 + 0.5)
         / 1000000.0 AS z
FROM d
""".format(rank2=_SQL_RANK2.format(v="cents", src="daily"))


def durbin_watson_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson statistic on the residuals of daily revenue
    regressed on time — THE textbook serial-correlation diagnostic for
    a fitted trend (residual_autocorr reports lag-1 r on raw revenue;
    DW prices the autocorrelation left AFTER the linear trend the
    forecasting family fits). DW ≈ 2(1−ρ̂): 2 = independent, → 0 =
    positive serial correlation, → 4 = alternation.

    Exactness: with slope b = Sxy_c/Sxx_c, the residual first
    difference is (yᵢ−yᵢ₋₁) − b, so DW needs only the exact integer
    moments (Σy, Σy², Σty, Σt, Σt², Σdy, Σdy², all folded in
    DECIMAL(38,0) off the cent-exact calendar-bounded daily frame)
    combined in ONE mirrored IEEE expression; DW and ρ̂ floor-round at
    6 dp (O(1) ratios — the residual_autocorr posture).

    Plan: one orders shuffle to the daily frame; a lag window over
    ≤ a few thousand rows (sanctioned); scalar arithmetic."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    wl = Window.orderBy("d")
    lagged = daily.select(
        "cents",
        F.row_number().over(wl).alias("t"),
        (F.col("cents") - F.lag("cents").over(wl)).alias("dy"),
    )
    _d38 = "decimal(38,0)"
    g = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("t").cast(_d38)).alias("sx"),
        F.sum(F.col("cents").cast(_d38)).alias("sy"),
        F.sum(F.col("t").cast(_d38) * F.col("t").cast(_d38)).alias("sxx"),
        F.sum(F.col("t").cast(_d38) * F.col("cents").cast(_d38)).alias("sxy"),
        F.sum(F.col("cents").cast(_d38) * F.col("cents").cast(_d38)).alias("syy"),
        F.sum(F.col("dy").cast(_d38)).alias("sdy"),
        F.sum(F.col("dy").cast(_d38) * F.col("dy").cast(_d38)).alias("sdy2"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    sdy, sdy2 = F.col("sdy").cast("double"), F.col("sdy2").cast("double")
    sxx_c = sxx - sx * sx / nd
    sxy_c = sxy - sx * sy / nd
    syy_c = syy - sy * sy / nd
    b = sxy_c / sxx_c
    sse = syy_c - b * b * sxx_c
    num = sdy2 - F.lit(2.0) * b * sdy + (nd - F.lit(1.0)) * b * b
    dw = num / sse
    return g.select(
        F.col("n").cast("long").alias("n_days"),
        _floor_round(b / F.lit(100.0), 4).alias("slope_dollars_per_day"),
        _floor_round(dw, 6).alias("dw"),
        _floor_round(F.lit(1.0) - dw / F.lit(2.0), 6).alias("rho_hat"),
    )


ORACLE_DURBIN_WATSON_REVENUE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), lagged AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY d) AS t,
         cents - LAG(cents) OVER (ORDER BY d) AS dy
  FROM daily
), g AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(t AS HUGEINT)) AS sx,
         SUM(CAST(cents AS HUGEINT)) AS sy,
         SUM(CAST(t AS HUGEINT) * t) AS sxx,
         SUM(CAST(t AS HUGEINT) * cents) AS sxy,
         SUM(CAST(cents AS HUGEINT) * cents) AS syy,
         SUM(CAST(dy AS HUGEINT)) AS sdy,
         SUM(CAST(dy AS HUGEINT) * dy) AS sdy2
  FROM lagged
), d AS (
  SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
         CAST(syy AS DOUBLE) AS syy, CAST(sdy AS DOUBLE) AS sdy,
         CAST(sdy2 AS DOUBLE) AS sdy2
  FROM g
), s AS (
  SELECT n, nd,
         (sxy - sx * sy / nd) / (sxx - sx * sx / nd) AS b,
         (syy - sy * sy / nd)
           - ((sxy - sx * sy / nd) / (sxx - sx * sx / nd))
             * ((sxy - sx * sy / nd) / (sxx - sx * sx / nd))
             * (sxx - sx * sx / nd) AS sse,
         sdy, sdy2
  FROM d
), f AS (
  SELECT n, b,
         (sdy2 - 2.0 * b * sdy + (nd - 1.0) * b * b) / sse AS dw
  FROM s
)
SELECT n AS n_days,
       sign(b / 100.0) * floor(abs(b / 100.0) * 10000.0 + 0.5) / 10000.0
         AS slope_dollars_per_day,
       sign(dw) * floor(abs(dw) * 1000000.0 + 0.5) / 1000000.0 AS dw,
       sign(1.0 - dw / 2.0) * floor(abs(1.0 - dw / 2.0) * 1000000.0 + 0.5)
         / 1000000.0 AS rho_hat
FROM f
"""


def squared_rank_dispersion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conover's squared-rank test for equality of VARIANCE between
    finished ('F') and open ('O') orders' totals — the nonparametric
    companion to bartlett_event_values (Bartlett assumes normality;
    squared ranks only exchangeability), and the dispersion sibling of
    the location-shift Mann–Whitney.

    Exactness: cent-exact totals → doubled mid-ranks (rank2_map);
    the score A(v) = (r2(v) − (N+1))² is an exact INTEGER per distinct
    value (doubling clears the only .5 the definition makes, squaring
    clears the sign), so T = Σ_{group1} A folds exactly in
    DECIMAL(38,0) along with ΣA and ΣA² over the pooled sample; the
    exact finite-population permutation moments
    E[T] = n₁·ΣA/N, Var[T] = n₁n₂(N·ΣA² − (ΣA)²)/(N²(N−1)) give the
    z-score as one value-determined IEEE combination (the subtraction
    cancels catastrophically in VALUE at huge N but is bit-identical
    across engines — determinism is what the gate needs; the
    statistic is O(1)).

    Scale: identical posture to mannwhitney_event_values — one
    conditional-count pass, the two-level bucket-prefix rank map,
    scalar arithmetic on exact integer aggregates."""
    from data_ingestion_project_spark.operators.quantiles import rank2_map

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    base = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
        (F.col("o_orderstatus") == "F").alias("is_f"),
    )
    ranks = rank2_map(base, "v", bucket_width=1_000_000)
    per = base.groupBy("v").agg(
        F.sum(F.when(F.col("is_f"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("is_f"), 0).otherwise(1)).alias("c2"),
    )
    _d38 = "decimal(38,0)"
    j = per.join(ranks, "v")
    n_tot = F.sum(F.col("c1") + F.col("c2"))
    # A(v) depends on N, which is itself an aggregate — two passes over
    # the tiny per-value frame: first N, then the score fold.
    counts = j.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    jj = j.crossJoin(F.broadcast(counts))
    a_v = (
        F.col("r2").cast(_d38)
        - (F.col("n1") + F.col("n2") + 1).cast(_d38)
    )
    g = jj.agg(
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
        F.sum(F.col("c1").cast(_d38) * a_v * a_v).alias("t4"),
        F.sum(F.col("cnt").cast(_d38) * a_v * a_v).alias("sa"),
        F.sum(F.col("cnt").cast(_d38) * a_v * a_v * a_v * a_v).alias("sa2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nd = n1d + n2d
    t4d, sad, sa2d = (
        F.col("t4").cast("double"),
        F.col("sa").cast("double"),
        F.col("sa2").cast("double"),
    )
    e4 = n1d * sad / nd
    var4 = n1d * n2d * (nd * sa2d - sad * sad) / (nd * nd * (nd - F.lit(1.0)))
    z = (t4d - e4) / F.sqrt(var4)
    return g.select(
        F.col("n1").cast("long").alias("n_finished"),
        F.col("n2").cast("long").alias("n_open"),
        _floor_round(t4d, 1).alias("t4_stat"),
        _floor_round(z, 6).alias("z"),
    )


ORACLE_SQUARED_RANK_DISPERSION_TEST = f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
         o_orderstatus = 'F' AS is_f
  FROM orders WHERE o_orderstatus IN ('F', 'O')
), ranks AS ({{rank2}}),
per AS (
  SELECT v, SUM(CASE WHEN is_f THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN is_f THEN 0 ELSE 1 END) AS c2
  FROM base GROUP BY v
), counts AS (
  SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM per
), g AS (
  SELECT MAX(n1) AS n1, MAX(n2) AS n2,
         SUM(CAST(c1 AS HUGEINT) * (r2 - (n1 + n2 + 1)) * (r2 - (n1 + n2 + 1)))
           AS t4,
         SUM(CAST(ranks.c AS HUGEINT) * (r2 - (n1 + n2 + 1)) * (r2 - (n1 + n2 + 1)))
           AS sa,
         SUM(CAST(ranks.c AS HUGEINT) * (r2 - (n1 + n2 + 1)) * (r2 - (n1 + n2 + 1))
             * (r2 - (n1 + n2 + 1)) * (r2 - (n1 + n2 + 1))) AS sa2
  FROM per JOIN ranks ON ranks.v = per.v CROSS JOIN counts
), d AS (
  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
         CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nd,
         CAST(t4 AS DOUBLE) AS t4d, CAST(sa AS DOUBLE) AS sad,
         CAST(sa2 AS DOUBLE) AS sa2d
  FROM g
), z AS (
  SELECT n1, n2, t4d,
         (t4d - n1d * sad / nd)
           / sqrt(n1d * n2d * (nd * sa2d - sad * sad)
                  / (nd * nd * (nd - 1.0))) AS zv
  FROM d
)
SELECT n1 AS n_finished, n2 AS n_open,
       sign(t4d) * floor(abs(t4d) * 10.0 + 0.5) / 10.0 AS t4_stat,
       sign(zv) * floor(abs(zv) * 1000000.0 + 0.5) / 1000000.0 AS z
FROM z
""".format(rank2=_SQL_RANK2.format(v="v", src="base"))


def jonckheere_terpstra_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternative test: do order totals
    trend MONOTONICALLY across the priority ladder 1-URGENT → 5-LOW?
    Strictly sharper than Kruskal–Wallis when the alternative is
    ordered (KW spends power on arbitrary differences; JT on the
    a-priori ordering), which is exactly the hypothesis for an ordinal
    facet. JT = Σ_{i<j} U_ij over group pairs.

    Exactness: cent-exact totals; the per-(group, value) count frame
    is DENSIFIED to the full (distinct value × 5 groups) grid so each
    group's below-v cumulative exists at EVERY pooled value, via the
    repo's two-level bucket-prefix cumulative (nothing corpus-sized in
    one task: bucket partials per group, then within-bucket windows);
    a 5-row window per value folds the i<j group prefix. 2·JT and
    2·E[JT] = (n² − Σnᵢ²)/... stay exact integers; the tie-corrected
    null variance (the three-term Kendall formula with tie groups t_v)
    folds its n³-scale sums in DECIMAL(38,0) before ONE conversion to
    double each (cast-first rule — the r9 kruskal_wallis overflow
    lesson), and z is floor-rounded at 6 dp.

    Scale: dense grid = 5 × |distinct values| rows — value-domain ×
    constant, not corpus-sized; the windows ride bucket-bounded
    partitions; everything else is one partial-agg shuffle."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
    )
    # r12: ONE orders pass — the (g, v) count frame feeds the dense
    # grid, the group sizes, and the tie groups (each previously
    # re-scanned the fact table; guide §2.3 project-early / §2.4)
    cgv = pin(base.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c")))
    dense = (
        cgv.select("v")
        .distinct()
        .select("v", F.explode(F.sequence(F.lit(1), F.lit(5))).alias("g"))
        .join(cgv, ["g", "v"], "left")
        .fillna(0, subset=["c"])
        .withColumn("b", F.expr("v DIV 1000000"))
    )
    bp = dense.groupBy("g", "b").agg(F.sum("c").alias("bc"))
    wb = (
        Window.partitionBy("g")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = bp.select(
        "g", "b", F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("p")
    )
    wv = (
        Window.partitionBy("g", "b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        dense.join(prefix, ["g", "b"])
        .withColumn(
            "cumlt", F.col("p") + F.coalesce(F.sum("c").over(wv), F.lit(0))
        )
        .select("g", "v", "c", "cumlt")
    )
    _d38 = "decimal(38,0)"
    # r12: the i<j group prefix is a CONSTANT 5-level ladder, so it
    # needs no window at all — one conditional-sum pivot per pooled
    # value (10 partial-aggregable columns, pure codegen'd hash agg)
    # replaces the partitionBy(v) window whose |distinct v| ≈ corpus-
    # sized partition count sorted the whole dense grid through window
    # machinery (measured 9.1 s stage).  Each group's term
    # c_g·(2·Σ_{l<g} cumlt_l + Σ_{l<g} c_l) is written with the same
    # cast-first DECIMAL products as the windowed form — exact integer
    # arithmetic, order-free.
    per_v = cum.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("g") == k, F.col("c")).otherwise(F.lit(0))).alias(f"c{k}")
            for k in range(1, 6)
        ],
        *[
            F.sum(
                F.when(F.col("g") == k, F.col("cumlt")).otherwise(F.lit(0))
            ).alias(f"q{k}")
            for k in range(1, 6)
        ],
    )
    terms = []
    for gg in range(2, 6):
        inner = 2 * sum(F.col(f"q{ll}") for ll in range(1, gg)) + sum(
            F.col(f"c{ll}") for ll in range(1, gg)
        )
        terms.append(F.col(f"c{gg}").cast(_d38) * inner.cast(_d38))
    jt = per_v.agg(F.sum(sum(terms[1:], terms[0])).alias("jt2"))
    sizes = cgv.groupBy("g").agg(F.sum("c").alias("ng"))
    szf = sizes.agg(
        F.sum("ng").alias("n"),
        F.sum(F.col("ng").cast(_d38) * F.col("ng").cast(_d38)).alias("sn2"),
        F.sum(
            F.col("ng").cast(_d38)
            * (F.col("ng") - 1).cast(_d38)
            * (2 * F.col("ng") + 5).cast(_d38)
        ).alias("an"),
        F.sum(
            F.col("ng").cast(_d38)
            * (F.col("ng") - 1).cast(_d38)
            * (F.col("ng") - 2).cast(_d38)
        ).alias("bn"),
        F.sum(F.col("ng").cast(_d38) * (F.col("ng") - 1).cast(_d38)).alias("cn"),
    )
    tiesf = cgv.groupBy("v").agg(F.sum("c").alias("t")).agg(
        F.sum(
            F.col("t").cast(_d38)
            * (F.col("t") - 1).cast(_d38)
            * (2 * F.col("t") + 5).cast(_d38)
        ).alias("at"),
        F.sum(
            F.col("t").cast(_d38)
            * (F.col("t") - 1).cast(_d38)
            * (F.col("t") - 2).cast(_d38)
        ).alias("bt"),
        F.sum(F.col("t").cast(_d38) * (F.col("t") - 1).cast(_d38)).alias("ct"),
    )
    g = jt.crossJoin(F.broadcast(szf)).crossJoin(F.broadcast(tiesf))
    nd = F.col("n").cast("double")
    a_term = (
        nd * (nd - F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(5.0))
        - F.col("an").cast("double")
        - F.col("at").cast("double")
    ) / F.lit(72.0)
    b_term = (
        F.col("bn").cast("double")
        * F.col("bt").cast("double")
        / (F.lit(36.0) * nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0)))
    )
    c_term = (
        F.col("cn").cast("double")
        * F.col("ct").cast("double")
        / (F.lit(8.0) * nd * (nd - F.lit(1.0)))
    )
    e2 = (nd * nd - F.col("sn2").cast("double")) / F.lit(2.0)
    z = (F.col("jt2").cast("double") - e2) / F.sqrt(
        F.lit(4.0) * (a_term + b_term + c_term)
    )
    return g.select(
        F.col("n").cast("long").alias("n"),
        F.col("jt2").cast("long").alias("jt2"),
        e2.cast("long").alias("e2"),
        _floor_round(z, 6).alias("z"),
    )


ORACLE_JONCKHEERE_TERPSTRA_PRIORITY = """
WITH base AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS g,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
  FROM orders
), cgv AS (
  SELECT g, v, COUNT(*) AS c FROM base GROUP BY g, v
), dense AS (
  SELECT gr.g, dv.v, COALESCE(cgv.c, 0) AS c
  FROM (SELECT DISTINCT v FROM base) dv
  CROSS JOIN (SELECT unnest(range(1, 6)) AS g) gr
  LEFT JOIN cgv ON cgv.g = gr.g AND cgv.v = dv.v
), cum AS (
  SELECT g, v, c,
         COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumlt
  FROM dense
), contrib AS (
  SELECT g, v, c,
         COALESCE(SUM(c) OVER (PARTITION BY v ORDER BY g
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumc,
         COALESCE(SUM(cumlt) OVER (PARTITION BY v ORDER BY g
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumq
  FROM cum
), jt AS (
  SELECT SUM(CAST(c AS HUGEINT) * (2 * cumq + cumc)) AS jt2 FROM contrib
), szf AS (
  SELECT SUM(ng) AS n,
         SUM(CAST(ng AS HUGEINT) * ng) AS sn2,
         SUM(CAST(ng AS HUGEINT) * (ng - 1) * (2 * ng + 5)) AS an,
         SUM(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2)) AS bn,
         SUM(CAST(ng AS HUGEINT) * (ng - 1)) AS cn
  FROM (SELECT g, COUNT(*) AS ng FROM base GROUP BY g)
), tiesf AS (
  SELECT SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS at,
         SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS bt,
         SUM(CAST(t AS HUGEINT) * (t - 1)) AS ct
  FROM (SELECT v, COUNT(*) AS t FROM base GROUP BY v)
), d AS (
  SELECT CAST(n AS DOUBLE) AS nd, CAST(jt2 AS DOUBLE) AS jt2d,
         CAST(sn2 AS DOUBLE) AS sn2d, CAST(an AS DOUBLE) AS an,
         CAST(at AS DOUBLE) AS at, CAST(bn AS DOUBLE) AS bn,
         CAST(bt AS DOUBLE) AS bt, CAST(cn AS DOUBLE) AS cn,
         CAST(ct AS DOUBLE) AS ct,
         CAST(n AS BIGINT) AS n, CAST(jt2 AS BIGINT) AS jt2
  FROM jt CROSS JOIN szf CROSS JOIN tiesf
), z AS (
  SELECT n, jt2, (nd * nd - sn2d) / 2.0 AS e2d,
         (jt2d - (nd * nd - sn2d) / 2.0)
           / sqrt(4.0 * ((nd * (nd - 1.0) * (2.0 * nd + 5.0) - an - at) / 72.0
                         + bn * bt / (36.0 * nd * (nd - 1.0) * (nd - 2.0))
                         + cn * ct / (8.0 * nd * (nd - 1.0)))) AS zv
  FROM d
)
SELECT n, jt2, CAST(trunc(e2d) AS BIGINT) AS e2,
       sign(zv) * floor(abs(zv) * 1000000.0 + 0.5) / 1000000.0 AS z
FROM z
"""


def ordinal_association_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal-x-ordinal association panel between order PRIORITY
    (the 1..5 ordinal encoded in o_orderpriority's first digit) and
    order PRICE BAND (100k-wide o_totalprice bands, 0..4): Goodman–
    Kruskal gamma, both Somers' D directions, Kendall's tau-b, and
    Stuart's tau-c — the full family a single concordant/discordant
    census supports (gamma ignores ties, Somers' D penalizes one
    margin, tau-b both, tau-c corrects for a non-square table).

    Exactness: ONE groupBy to the ≤25-cell contingency; concordant/
    discordant DOUBLED pair counts come from the broadcast 25x25 cell
    self-join folded in DECIMAL(38,0) (cast-first rule — products are
    O(n²)); tie terms from the marginals, also doubled to stay
    integer. Every statistic is then one value-determined IEEE
    combination of exact integers, floor-rounded at 6 dp (sqrt only
    on exact products — cross-engine-safe).

    Scale: the corpus collapses to K·L cells in one partial-agg
    shuffle; all pair algebra runs on the 25-row broadcast frame —
    corpus-size-independent beyond the single scan."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("x"),
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(100000.0)), F.lit(4)
        ).cast("int").alias("y"),
    )
    cells = base.groupBy("x", "y").agg(F.count(F.lit(1)).alias("nc"))
    _d38 = "decimal(38,0)"
    a, b = cells.alias("a"), cells.alias("b")
    prod = F.col("a.nc").cast(_d38) * F.col("b.nc").cast(_d38)
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("b.x") > F.col("a.x")) & (F.col("b.y") > F.col("a.y")), prod
            ).otherwise(F.lit(0).cast(_d38))
        ).alias("c_pairs"),
        F.sum(
            F.when(
                (F.col("b.x") > F.col("a.x")) & (F.col("b.y") < F.col("a.y")), prod
            ).otherwise(F.lit(0).cast(_d38))
        ).alias("d_pairs"),
    )
    margins = cells.agg(
        F.sum("nc").alias("n"),
        F.count_distinct("x").alias("kx"),
        F.count_distinct("y").alias("ky"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("nc").alias("nx"))
        .agg(
            F.sum(F.col("nx").cast(_d38) * (F.col("nx") - 1).cast(_d38)).alias("tx2")
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("nc").alias("ny"))
        .agg(
            F.sum(F.col("ny").cast(_d38) * (F.col("ny") - 1).cast(_d38)).alias("ty2")
        )
    )
    g = (
        pairs.crossJoin(F.broadcast(margins))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    nd = F.col("n").cast("double")
    cd = F.col("c_pairs").cast("double") - F.col("d_pairs").cast("double")
    n0_2 = nd * (nd - F.lit(1.0))
    dx = n0_2 - F.col("tx2").cast("double")
    dy = n0_2 - F.col("ty2").cast("double")
    m = F.least("kx", "ky").cast("double")
    return g.select(
        F.col("n").cast("long").alias("n"),
        F.col("c_pairs").cast("long").alias("c_pairs"),
        F.col("d_pairs").cast("long").alias("d_pairs"),
        _floor_round(
            cd / (F.col("c_pairs").cast("double") + F.col("d_pairs").cast("double")), 6
        ).alias("gamma"),
        _floor_round(F.lit(2.0) * cd / dx, 6).alias("somers_dyx"),
        _floor_round(F.lit(2.0) * cd / dy, 6).alias("somers_dxy"),
        _floor_round(F.lit(2.0) * cd / F.sqrt(dx * dy), 6).alias("tau_b"),
        _floor_round(
            F.lit(2.0) * m * cd / (nd * nd * (m - F.lit(1.0))), 6
        ).alias("tau_c"),
    )


ORACLE_ORDINAL_ASSOCIATION_PANEL = """
WITH base AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS x,
         CAST(least(floor(o_totalprice / 100000.0), 4) AS INTEGER) AS y
  FROM orders
), cells AS (
  SELECT x, y, COUNT(*) AS nc FROM base GROUP BY x, y
), pairs AS (
  SELECT SUM(CASE WHEN b.x > a.x AND b.y > a.y
                  THEN CAST(a.nc AS HUGEINT) * b.nc ELSE 0 END) AS c_pairs,
         SUM(CASE WHEN b.x > a.x AND b.y < a.y
                  THEN CAST(a.nc AS HUGEINT) * b.nc ELSE 0 END) AS d_pairs
  FROM cells a CROSS JOIN cells b
), margins AS (
  SELECT SUM(nc) AS n, COUNT(DISTINCT x) AS kx, COUNT(DISTINCT y) AS ky
  FROM cells
), tx AS (
  SELECT SUM(CAST(nx AS HUGEINT) * (nx - 1)) AS tx2
  FROM (SELECT SUM(nc) AS nx FROM cells GROUP BY x)
), ty AS (
  SELECT SUM(CAST(ny AS HUGEINT) * (ny - 1)) AS ty2
  FROM (SELECT SUM(nc) AS ny FROM cells GROUP BY y)
), g AS (
  SELECT CAST(n AS DOUBLE) AS nd,
         CAST(c_pairs AS DOUBLE) - CAST(d_pairs AS DOUBLE) AS cd,
         CAST(c_pairs AS DOUBLE) + CAST(d_pairs AS DOUBLE) AS cpd,
         CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
           - CAST(tx2 AS DOUBLE) AS dx,
         CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
           - CAST(ty2 AS DOUBLE) AS dy,
         CAST(least(kx, ky) AS DOUBLE) AS m,
         CAST(n AS BIGINT) AS n,
         CAST(c_pairs AS BIGINT) AS c_pairs,
         CAST(d_pairs AS BIGINT) AS d_pairs
  FROM pairs CROSS JOIN margins CROSS JOIN tx CROSS JOIN ty
)
SELECT n, c_pairs, d_pairs,
       sign(cd / cpd) * floor(abs(cd / cpd) * 1000000.0 + 0.5) / 1000000.0 AS gamma,
       sign(2.0 * cd / dx) * floor(abs(2.0 * cd / dx) * 1000000.0 + 0.5)
         / 1000000.0 AS somers_dyx,
       sign(2.0 * cd / dy) * floor(abs(2.0 * cd / dy) * 1000000.0 + 0.5)
         / 1000000.0 AS somers_dxy,
       sign(2.0 * cd / sqrt(dx * dy))
         * floor(abs(2.0 * cd / sqrt(dx * dy)) * 1000000.0 + 0.5)
         / 1000000.0 AS tau_b,
       sign(2.0 * m * cd / (nd * nd * (m - 1.0)))
         * floor(abs(2.0 * m * cd / (nd * nd * (m - 1.0))) * 1000000.0 + 0.5)
         / 1000000.0 AS tau_c
FROM g
"""


def cliffs_delta_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta and Vargha–Delaney A between BUILDING and
    MACHINERY customers' account balances — the nonparametric EFFECT
    SIZES that belong next to the Mann–Whitney test statistic
    (mannwhitney_event_values answers "is there a shift?"; these
    answer "how big is it?" on the probability-of-superiority scale),
    plus the conventional magnitude label (Romano et al. thresholds
    .147/.33/.474), applied to the QUANTIZED delta so both engines
    classify identical values.

    Exactness: cent-exact balances → the doubled-mid-rank map
    (rank2_map, two-level bucket prefix — nothing corpus-sized in one
    task), 2U₁ as an exact DECIMAL fold; delta = 2U₁/(n₁n₂) − 1 and
    A = U₁/(n₁n₂) are single value-determined IEEE expressions."""
    from data_ingestion_project_spark.operators.quantiles import rank2_map

    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    base = c.select(
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v"),
        (F.col("c_mktsegment") == "BUILDING").alias("is_b"),
    )
    ranks = rank2_map(base, "v", bucket_width=100_000)
    per = base.groupBy("v").agg(
        F.sum(F.when(F.col("is_b"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("is_b"), 0).otherwise(1)).alias("c2"),
    )
    _d38 = "decimal(38,0)"
    g = per.join(ranks, "v").agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1").cast(_d38) * F.col("r2").cast(_d38)).alias("r1x2"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    u2 = F.col("r1x2").cast("double") - n1 * (n1 + F.lit(1.0))  # = 2*U1
    delta_q = _floor_round(u2 / (n1 * n2) - F.lit(1.0), 6)
    return g.select(
        F.col("n1").cast("long").alias("n_building"),
        F.col("n2").cast("long").alias("n_machinery"),
        _floor_round(u2 / F.lit(2.0), 1).alias("u1"),
        delta_q.alias("cliffs_delta"),
        _floor_round(u2 / (F.lit(2.0) * n1 * n2), 6).alias("vda_a"),
        F.when(F.abs(delta_q) < 0.147, F.lit("negligible"))
        .when(F.abs(delta_q) < 0.33, F.lit("small"))
        .when(F.abs(delta_q) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("magnitude"),
    )


ORACLE_CLIFFS_DELTA_SEGMENTS = f"""
WITH base AS (
  SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v,
         c_mktsegment = 'BUILDING' AS is_b
  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
), ranks AS ({{rank2}}),
per AS (
  SELECT v, SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN is_b THEN 0 ELSE 1 END) AS c2
  FROM base GROUP BY v
), g AS (
  SELECT SUM(c1) AS n1, SUM(c2) AS n2,
         SUM(CAST(c1 AS HUGEINT) * r2) AS r1x2
  FROM per JOIN ranks ON ranks.v = per.v
), d AS (
  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
         CAST(r1x2 AS DOUBLE)
           - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) AS u2
  FROM g
), q AS (
  SELECT n1, n2, n1d, n2d, u2,
         sign(u2 / (n1d * n2d) - 1.0)
           * floor(abs(u2 / (n1d * n2d) - 1.0) * 1000000.0 + 0.5)
           / 1000000.0 AS delta_q
  FROM d
)
SELECT n1 AS n_building, n2 AS n_machinery,
       sign(u2 / 2.0) * floor(abs(u2 / 2.0) * 10.0 + 0.5) / 10.0 AS u1,
       delta_q AS cliffs_delta,
       sign(u2 / (2.0 * n1d * n2d))
         * floor(abs(u2 / (2.0 * n1d * n2d)) * 1000000.0 + 0.5)
         / 1000000.0 AS vda_a,
       CASE WHEN abs(delta_q) < 0.147 THEN 'negligible'
            WHEN abs(delta_q) < 0.33 THEN 'small'
            WHEN abs(delta_q) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM q
""".format(rank2=_SQL_RANK2.format(v="v", src="base"))


# ------------------------------------------------- round-11 additions


def friedman_revenue_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test — the repeated-measures companion to
    kruskal_wallis (which assumes independent groups): does day-of-week
    carry a revenue effect once BETWEEN-WEEK level shifts are blocked
    out?  Blocks = ISO weeks with all 7 days present, treatments =
    isodow, response = the day's revenue; each week ranks its own 7
    days, so a holiday week's depressed absolute level cannot leak
    into the statistic.

    Exactness: daily revenue in exact cents; average ranks within a
    7-row block are half-integers, carried as DOUBLED integer ranks
    r2 = 2·rank_min + ties − 1, so the tie-corrected statistic

        Q = (k−1) · Σ_j (A2_j − n(k+1))² / (Σ r2² − n·k·(k+1)²)

    (A2_j = Σ_blocks r2 per treatment; k = 7) is ONE division of two
    exact integers; Kendall's W = Q/(n(k−1)) likewise.

    Scale: one orders shuffle to the calendar-bounded daily frame
    (≤ a few thousand rows at ANY corpus size); rank windows are
    7-row block-partitioned — sanctioned bounded frames."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .select(
            F.date_trunc("week", "d").alias("wk"),
            (F.expr("weekday(d)") + F.lit(1)).alias("dow"),
            "cents",
        )
    )
    full = daily.groupBy("wk").agg(F.count(F.lit(1)).alias("nd")).filter(
        F.col("nd") == 7
    )
    blocks = daily.join(F.broadcast(full.select("wk")), "wk")
    wr = Window.partitionBy("wk").orderBy("cents")
    wt = Window.partitionBy("wk", "cents")
    ranked = blocks.withColumn(
        "r2",
        (F.lit(2) * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - F.lit(1)).cast(
            "long"
        ),
    )
    stat = (
        ranked.agg(
            F.sum(F.col("r2") * F.col("r2")).alias("ssq2"),
            F.count_distinct("wk").alias("n"),
        )
    )
    per_dow = ranked.groupBy("dow").agg(
        F.sum("r2").alias("a2"), F.count(F.lit(1)).alias("nb")
    )
    num = per_dow.crossJoin(F.broadcast(stat)).agg(
        F.sum(
            (F.col("a2") - F.lit(8) * F.col("n"))
            * (F.col("a2") - F.lit(8) * F.col("n"))
        ).alias("num2"),
        F.max("n").alias("n"),
        F.max("ssq2").alias("ssq2"),
    )
    q = (
        F.lit(6.0)
        * F.col("num2").cast("double")
        / F.nullif(
            (F.col("ssq2") - F.lit(448) * F.col("n")).cast("double"), F.lit(0.0)
        )
    )
    g = num.select(
        F.col("n").cast("long").alias("n_blocks"),
        _floor_round(q, 6).alias("q_friedman"),
        F.lit(6).cast("long").alias("df"),
        _floor_round(q / (F.lit(6.0) * F.col("n").cast("double")), 6).alias(
            "w_kendall"
        ),
    )
    mean_ranks = per_dow.crossJoin(F.broadcast(stat.select("n"))).select(
        "dow",
        _floor_round(
            F.col("a2").cast("double") / (F.lit(2.0) * F.col("n").cast("double")), 6
        ).alias("mean_rank"),
    )
    return (
        mean_ranks.crossJoin(F.broadcast(g))
        .select("dow", "mean_rank", "n_blocks", "q_friedman", "df", "w_kendall")
        .orderBy("dow")
    )


ORACLE_FRIEDMAN_REVENUE_DOW = """
WITH daily AS (
  SELECT CAST(date_trunc('week', d) AS DATE) AS wk,
         CAST(isodow(d) AS INTEGER) AS dow, cents
  FROM (
    SELECT CAST(o_orderdate AS DATE) AS d,
           SUM(CAST(o_totalprice * 100 AS BIGINT)) AS cents
    FROM orders GROUP BY 1
  ) t
), full_wk AS (
  SELECT wk FROM daily GROUP BY wk HAVING COUNT(*) = 7
), ranked AS (
  SELECT d.wk, d.dow,
         2 * RANK() OVER (PARTITION BY d.wk ORDER BY d.cents)
           + COUNT(*) OVER (PARTITION BY d.wk, d.cents) - 1 AS r2
  FROM daily d JOIN full_wk f ON f.wk = d.wk
), stat AS (
  SELECT SUM(r2 * r2) AS ssq2, COUNT(DISTINCT wk) AS n FROM ranked
), per_dow AS (
  SELECT dow, SUM(r2) AS a2 FROM ranked GROUP BY dow
), num AS (
  SELECT SUM((a2 - 8 * n) * (a2 - 8 * n)) AS num2,
         MAX(n) AS n, MAX(ssq2) AS ssq2
  FROM per_dow CROSS JOIN stat
), g AS (
  SELECT CAST(n AS BIGINT) AS n_blocks,
         6.0 * CAST(num2 AS DOUBLE)
           / NULLIF(CAST(ssq2 - 448 * n AS DOUBLE), 0.0) AS q,
         n
  FROM num
)
SELECT d.dow,
       sign(CAST(d.a2 AS DOUBLE) / (2.0 * CAST(g.n AS DOUBLE)))
         * floor(abs(CAST(d.a2 AS DOUBLE) / (2.0 * CAST(g.n AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_rank,
       g.n_blocks,
       sign(g.q) * floor(abs(g.q) * 1000000.0 + 0.5) / 1000000.0 AS q_friedman,
       CAST(6 AS BIGINT) AS df,
       sign(g.q / (6.0 * CAST(g.n AS DOUBLE)))
         * floor(abs(g.q / (6.0 * CAST(g.n AS DOUBLE))) * 1000000.0 + 0.5)
         / 1000000.0 AS w_kendall
FROM per_dow d CROSS JOIN g
ORDER BY d.dow
"""


def jarque_bera_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test on order totals, per order status and
    pooled — the moment-based screen (skewness² + excess-kurtosis²)
    that tells a drift monitor whether z-score thresholds are even
    meaningful on this distribution.

    Exactness at scale: totals quantize to whole currency UNITS
    (cast-to-long truncation — the micro/cents idioms overflow
    decimal(38,0) at the fourth power by sf100; units keep Σ(x−p)⁴
    under 10³⁵ at 60 B rows), and the moments fold about a single
    GLOBAL integer pivot p = floor(ΣX/N) so ONE rollup pass yields
    exact decimal Σ(x−p)^k, k=1..4, for every status AND the pooled
    row; the central moments about each group's true mean come from
    the standard pivot-shift identities evaluated as mirrored double
    expressions of those exact integers.

    Scale: two partial-agg scans (pivot, then moments), each reducing
    to ≤ 4 groups; no windows, no joins beyond a broadcast scalar."""
    o = table(spark, sf_dir, "orders")
    # cast double→long truncates toward zero in Spark; totals are > 0,
    # so this mirrors DuckDB's trunc() exactly
    xq = F.col("o_totalprice").cast("long")
    piv = o.agg(
        F.floor(
            F.sum(xq.cast(_DEC)).cast("double") / F.count(F.lit(1)).cast("double")
        )
        .cast("long")
        .alias("p")
    )
    dev = (xq - F.col("p")).cast("decimal(38,0)")
    m = (
        o.crossJoin(F.broadcast(piv))
        .rollup("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dev).alias("s1"),
            F.sum(dev * dev).alias("s2"),
            F.sum(dev * dev * dev).alias("s3"),
            F.sum(dev * dev * dev * dev).alias("s4"),
            F.max("p").alias("p"),
        )
    )
    n = F.col("n").cast("double")
    d = F.col("s1").cast("double") / n  # mean − pivot
    m2 = F.col("s2").cast("double") / n - d * d
    m3 = (
        F.col("s3").cast("double") / n
        - F.lit(3.0) * d * (F.col("s2").cast("double") / n)
        + F.lit(2.0) * d * d * d
    )
    m4 = (
        F.col("s4").cast("double") / n
        - F.lit(4.0) * d * (F.col("s3").cast("double") / n)
        + F.lit(6.0) * d * d * (F.col("s2").cast("double") / n)
        - F.lit(3.0) * d * d * d * d
    )
    skew = m3 / (m2 * F.sqrt(m2))
    exk = m4 / (m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (skew * skew + exk * exk / F.lit(4.0))
    return m.select(
        F.coalesce(F.col("o_orderstatus"), F.lit("TOTAL")).alias("status"),
        F.col("n").cast("long").alias("n"),
        _floor_round(d + F.col("p").cast("double"), 4).alias("mean_units"),
        _floor_round(skew, 6).alias("skewness"),
        _floor_round(exk, 6).alias("excess_kurtosis"),
        _floor_round(jb, 4).alias("jb_stat"),
    ).orderBy("status")


ORACLE_JARQUE_BERA_ORDER_TOTALS = """
WITH piv AS (
  SELECT CAST(floor(CAST(SUM(CAST(trunc(o_totalprice) AS HUGEINT)) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS p
  FROM orders
), dev AS (
  SELECT o_orderstatus,
         CAST(CAST(trunc(o_totalprice) AS BIGINT) - p AS HUGEINT) AS v, p
  FROM orders CROSS JOIN piv
), m AS (
  SELECT o_orderstatus, COUNT(*) AS n,
         SUM(v) AS s1, SUM(v * v) AS s2, SUM(v * v * v) AS s3,
         SUM(v * v * v * v) AS s4, MAX(p) AS p
  FROM dev
  GROUP BY ROLLUP (o_orderstatus)
), g AS (
  SELECT COALESCE(o_orderstatus, 'TOTAL') AS status,
         CAST(n AS BIGINT) AS n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS d,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4,
         CAST(p AS DOUBLE) AS p
  FROM m
), c AS (
  SELECT status, n, p, d, r2 - d * d AS m2,
         r3 - 3.0 * d * r2 + 2.0 * d * d * d AS m3,
         r4 - 4.0 * d * r3 + 6.0 * d * d * r2 - 3.0 * d * d * d * d AS m4
  FROM g
), s AS (
  SELECT status, n, p, d, m2,
         m3 / (m2 * sqrt(m2)) AS skew,
         m4 / (m2 * m2) - 3.0 AS exk
  FROM c
)
SELECT status, n,
       sign(d + p) * floor(abs(d + p) * 10000.0 + 0.5) / 10000.0 AS mean_units,
       sign(skew) * floor(abs(skew) * 1000000.0 + 0.5) / 1000000.0 AS skewness,
       sign(exk) * floor(abs(exk) * 1000000.0 + 0.5) / 1000000.0
         AS excess_kurtosis,
       sign(CAST(n AS DOUBLE) / 6.0 * (skew * skew + exk * exk / 4.0))
         * floor(abs(CAST(n AS DOUBLE) / 6.0 * (skew * skew + exk * exk / 4.0))
                 * 10000.0 + 0.5) / 10000.0 AS jb_stat
FROM s
ORDER BY status
"""


def theil_inequality_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-customer revenue with the exact
    within/between-NATION decomposition — the additive-decomposable
    inequality measure (Gini, already measured repo-wide, is not):
    T_total = Σ_g s_g·T_g + Σ_g s_g·ln(μ_g/μ).  Answers "how much of
    revenue concentration is customers-within-a-market vs markets
    themselves?".

    Exactness: per-customer revenue folds to exact cents; each
    customer's x·ln(x) term uses the quantized-ln idiom
    (q = round(ln·1e8) — one libm call per customer, immediately
    integered so a last-ulp libm difference cannot propagate) and the
    Σ x·q folds in decimal(38,0); group/grand log-means are single
    quantized libm calls on exact-integer ratios.  Every reported
    value is then a mirrored double expression of exact integers.

    Scale: orders → per-customer agg (THE shuffle, key = custkey),
    nation lookup via broadcast, then a 25-row nation frame; customers
    with no orders contribute zero revenue and are excluded (inner
    join), as documented."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    # customer is fact-scaled — this is a key-aligned SHUFFLE join on
    # custkey (both sides partition on it); only the 25-row nation
    # dimension broadcasts
    cust = (
        o.groupBy("o_custkey")
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("x"))
        .join(c.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "x")
    )
    qx = F.round(F.log(F.col("x").cast("double")) * F.lit(1e8), 0).cast("long")
    per_nat = cust.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.col("x").cast(_DEC)).alias("xg"),
        F.sum(F.col("x").cast("decimal(38,0)") * qx.cast("decimal(38,0)")).alias(
            "fold"
        ),
    )
    tot = per_nat.agg(
        F.sum("n_cust").alias("n_all"),
        F.sum(F.col("xg").cast("decimal(38,0)")).alias("x_all"),
        F.sum("fold").alias("fold_all"),
    )
    qmu_g = F.round(
        F.log(F.col("xg").cast("double") / F.col("n_cust").cast("double"))
        * F.lit(1e8),
        0,
    )
    qmu_all = F.round(
        F.log(F.col("x_all").cast("double") / F.col("n_all").cast("double"))
        * F.lit(1e8),
        0,
    )
    j = per_nat.crossJoin(F.broadcast(tot))
    share = F.col("xg").cast("double") / F.col("x_all").cast("double")
    t_within = (
        F.col("fold").cast("double") / F.col("xg").cast("double") - qmu_g
    ) / F.lit(1e8)
    between_g = share * (qmu_g - qmu_all) / F.lit(1e8)
    nation_rows = j.select(
        F.col("n_name").alias("nation"),
        F.col("n_cust").cast("long").alias("n_customers"),
        _floor_round(share, 6).alias("revenue_share"),
        _floor_round(t_within, 6).alias("theil_within"),
        _floor_round(share * t_within, 6).alias("contrib_within"),
        _floor_round(between_g, 6).alias("contrib_between"),
    )
    t_total = (
        F.col("fold_all").cast("double") / F.col("x_all").cast("double") - qmu_all
    ) / F.lit(1e8)
    total_row = tot.select(
        F.lit("TOTAL").alias("nation"),
        F.col("n_all").cast("long").alias("n_customers"),
        F.lit(1.0).alias("revenue_share"),
        _floor_round(t_total, 6).alias("theil_within"),
        F.lit(None).cast("double").alias("contrib_within"),
        F.lit(None).cast("double").alias("contrib_between"),
    )
    return nation_rows.unionByName(total_row).orderBy("nation")


ORACLE_THEIL_INEQUALITY_NATIONS = """
WITH cust AS (
  SELECT n.n_name, SUM(CAST(o_totalprice * 100 AS BIGINT)) AS x
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY o.o_custkey, n.n_name
), per_nat AS (
  SELECT n_name, COUNT(*) AS n_cust,
         SUM(CAST(x AS HUGEINT)) AS xg,
         SUM(CAST(x AS HUGEINT)
             * CAST(round(ln(CAST(x AS DOUBLE)) * 100000000.0) AS HUGEINT))
           AS fold
  FROM cust GROUP BY n_name
), tot AS (
  SELECT SUM(n_cust) AS n_all, SUM(xg) AS x_all, SUM(fold) AS fold_all
  FROM per_nat
), j AS (
  SELECT p.*, t.n_all, t.x_all, t.fold_all,
         round(ln(CAST(p.xg AS DOUBLE) / CAST(p.n_cust AS DOUBLE))
               * 100000000.0) AS qmu_g,
         round(ln(CAST(t.x_all AS DOUBLE) / CAST(t.n_all AS DOUBLE))
               * 100000000.0) AS qmu_all,
         CAST(p.xg AS DOUBLE) / CAST(t.x_all AS DOUBLE) AS share,
         (CAST(p.fold AS DOUBLE) / CAST(p.xg AS DOUBLE)
          - round(ln(CAST(p.xg AS DOUBLE) / CAST(p.n_cust AS DOUBLE))
                  * 100000000.0)) / 100000000.0 AS t_within
  FROM per_nat p CROSS JOIN tot t
)
SELECT nation, n_customers, revenue_share, theil_within,
       contrib_within, contrib_between
FROM (
  SELECT n_name AS nation, CAST(n_cust AS BIGINT) AS n_customers,
         sign(share) * floor(abs(share) * 1000000.0 + 0.5) / 1000000.0
           AS revenue_share,
         sign(t_within) * floor(abs(t_within) * 1000000.0 + 0.5) / 1000000.0
           AS theil_within,
         sign(share * t_within)
           * floor(abs(share * t_within) * 1000000.0 + 0.5) / 1000000.0
           AS contrib_within,
         sign(share * (qmu_g - qmu_all) / 100000000.0)
           * floor(abs(share * (qmu_g - qmu_all) / 100000000.0)
                   * 1000000.0 + 0.5) / 1000000.0 AS contrib_between
  FROM j
  UNION ALL
  SELECT 'TOTAL', CAST(t.n_all AS BIGINT), 1.0,
         sign((CAST(t.fold_all AS DOUBLE) / CAST(t.x_all AS DOUBLE)
               - round(ln(CAST(t.x_all AS DOUBLE) / CAST(t.n_all AS DOUBLE))
                       * 100000000.0)) / 100000000.0)
           * floor(abs((CAST(t.fold_all AS DOUBLE) / CAST(t.x_all AS DOUBLE)
               - round(ln(CAST(t.x_all AS DOUBLE) / CAST(t.n_all AS DOUBLE))
                       * 100000000.0)) / 100000000.0) * 1000000.0 + 0.5)
           / 1000000.0,
         NULL, NULL
  FROM tot t
) u
ORDER BY nation
"""


def g_test_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (likelihood-ratio χ², Sokal & Rohlf) of event-type ×
    ISO-day-of-week independence — the LR twin of chisq_event_dow:
    G = 2·Σ O·ln(O/E) is additive under partitioning (a G computed on
    pooled cells equals the sum of the partition Gs plus the
    between-partition G), which Pearson's χ² is not — the property a
    drilldown dashboard needs to attribute a dependence signal to
    sub-slices.  Zero cells (type×dow pairs never observed) contribute
    0 by the x·ln(x) → 0 convention and are simply absent from the
    grouped frame.

    Plan: identical to chisq_event_dow — ONE partial-agg shuffle to the
    ≤|types|×7 contingency cells, then broadcast-joined totals; nothing
    downstream grows with the corpus.  Exactness: E = R·C/N is one
    double division of exact BIGINTs (cast-first, the 1e12-row-total
    comment on chisq applies); each cell's 2·O·ln(O/E) is quantized to
    integer micro-units immediately (the lnq idiom) and G is the EXACT
    integer sum of those cells."""
    e = table(spark, sf_dir, "events")
    cells = pin(
        e.groupBy(
            "event_type",
            (F.expr("weekday(ts)") + F.lit(1)).alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    row_tot = cells.groupBy("event_type").agg(F.sum("observed").alias("row_total"))
    col_tot = cells.groupBy("dow").agg(F.sum("observed").alias("col_total"))
    totals = cells.agg(
        F.sum("observed").alias("n_total"),
        ((F.count_distinct("event_type") - 1) * (F.count_distinct("dow") - 1)).alias(
            "dof"
        ),
    )
    j = (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "dow")
        .crossJoin(F.broadcast(totals))
    )
    exp_d = (
        F.col("row_total").cast("double") * F.col("col_total").cast("double")
    ) / F.col("n_total")
    obs_d = F.col("observed").cast("double")
    k = j.select(
        "event_type",
        "dow",
        "observed",
        "dof",
        _micro(exp_d).alias("exp_i"),
        _micro(F.lit(2.0) * obs_d * F.log(obs_d / exp_d)).alias("cell_i"),
    )
    tot = k.agg(F.sum("cell_i").alias("tot_i"))
    return (
        k.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            "observed",
            (F.col("exp_i").cast("double") / F.lit(float(_M))).alias("expected"),
            (F.col("cell_i").cast("double") / F.lit(float(_M))).alias("cell_g"),
            (F.col("tot_i").cast("double") / F.lit(float(_M))).alias("g_stat"),
            F.col("dof").cast("long").alias("dof"),
        )
        .orderBy("event_type", "dow")
    )


ORACLE_G_TEST_EVENT_DOW = """
WITH cells AS (
  SELECT event_type, CAST(date_part('isodow', ts) AS INT) AS dow,
         COUNT(*) AS observed
  FROM events GROUP BY 1, 2
), rt AS (SELECT event_type, SUM(observed) AS row_total FROM cells GROUP BY 1),
ct AS (SELECT dow, SUM(observed) AS col_total FROM cells GROUP BY 1),
nt AS (
  SELECT SUM(observed) AS n_total,
         (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS dof
  FROM cells
), j AS (
  SELECT c.event_type, c.dow, c.observed, nt.dof,
         CAST(rt.row_total AS DOUBLE) * CAST(ct.col_total AS DOUBLE)
           / nt.n_total AS exp_d
  FROM cells c
  JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN nt
), k AS (
  SELECT event_type, dow, observed, dof,
         CAST(trunc(exp_d * 1000000) AS BIGINT) AS exp_i,
         CAST(trunc((2.0 * CAST(observed AS DOUBLE)
                     * ln(CAST(observed AS DOUBLE) / exp_d)) * 1000000)
              AS BIGINT) AS cell_i
  FROM j
), tot AS (SELECT SUM(cell_i) AS tot_i FROM k)
SELECT event_type, dow, observed,
       CAST(exp_i AS DOUBLE) / 1000000.0 AS expected,
       CAST(cell_i AS DOUBLE) / 1000000.0 AS cell_g,
       CAST(tot_i AS DOUBLE) / 1000000.0 AS g_stat,
       CAST(dof AS BIGINT) AS dof
FROM k CROSS JOIN tot
ORDER BY event_type, dow
"""


def cochran_armitage_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: does the probability that an order
    contains a RETURNED item rise (or fall) monotonically with order
    priority?  The test for a linear trend in proportions across
    ORDERED groups — what a plain χ² on the 5×2 table cannot see
    (χ² treats priorities as unordered labels; CA spends its single
    degree of freedom on the ordering, so a monotone effect that χ²
    dilutes across 4 dof is detected).  Scores tᵢ = the priority's
    leading digit (1-URGENT … 5-LOW).

    Z = (Σtᵢrᵢ − p̄·Σtᵢnᵢ) / sqrt(p̄(1−p̄)(Σnᵢtᵢ² − (Σnᵢtᵢ)²/N)),
    p̄ = R/N.

    Plan: one shuffle join orders ⋈ (distinct returned orderkeys) and
    one 5-row aggregation; every sufficient statistic (N, R, Σtr, Σtn,
    Σt²n) is an exact integer, and the statistic is ONE mirrored IEEE
    expression over them (squares cast-first to double — at 100 TB
    (Σtn)² would wrap int64).  Exactness: rates and Z floor-round at
    6 dp."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
        .withColumn("is_ret", F.lit(1))
    )
    grp = pin(
        o.select(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("t"),
            "o_orderkey",
        )
        .join(ret, "o_orderkey", "left")
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.coalesce(F.col("is_ret"), F.lit(0))).alias("n_returned"),
        )
    )
    tots = grp.agg(
        F.sum("n_orders").alias("nn"),
        F.sum("n_returned").alias("rr"),
        F.sum(F.col("t") * F.col("n_returned")).alias("str_"),
        F.sum(F.col("t") * F.col("n_orders")).alias("stn"),
        F.sum(F.col("t") * F.col("t") * F.col("n_orders")).alias("st2n"),
    )
    nd = F.col("nn").cast("double")
    pbar = F.col("rr").cast("double") / nd
    stn_d = F.col("stn").cast("double")
    num = F.col("str_").cast("double") - pbar * stn_d
    den = pbar * (F.lit(1.0) - pbar) * (
        F.col("st2n").cast("double") - stn_d * stn_d / nd
    )
    z = num / F.sqrt(den)
    return (
        grp.crossJoin(F.broadcast(tots))
        .select(
            F.col("t").alias("priority_score"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_returned").cast("long").alias("n_returned"),
            _floor_round(
                F.col("n_returned").cast("double") / F.col("n_orders").cast("double"),
                6,
            ).alias("return_rate"),
            _floor_round(z, 6).alias("z_ca"),
            _floor_round(z * z, 6).alias("chi2_ca"),
        )
        .orderBy("priority_score")
    )


ORACLE_COCHRAN_ARMITAGE_RETURNS = """
WITH ret AS (
  SELECT DISTINCT l_orderkey AS o_orderkey, 1 AS is_ret
  FROM lineitem WHERE l_returnflag = 'R'
), grp AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS t,
         COUNT(*) AS n_orders,
         SUM(COALESCE(is_ret, 0)) AS n_returned
  FROM orders LEFT JOIN ret USING (o_orderkey)
  GROUP BY 1
), tots AS (
  SELECT CAST(SUM(n_orders) AS BIGINT) AS nn,
         CAST(SUM(n_returned) AS BIGINT) AS rr,
         CAST(SUM(t * n_returned) AS BIGINT) AS str_,
         CAST(SUM(t * n_orders) AS BIGINT) AS stn,
         CAST(SUM(t * t * n_orders) AS BIGINT) AS st2n
  FROM grp
), s AS (
  SELECT (CAST(str_ AS DOUBLE)
          - (CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE)) * CAST(stn AS DOUBLE))
         / sqrt((CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                * (1.0 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
                * (CAST(st2n AS DOUBLE)
                   - CAST(stn AS DOUBLE) * CAST(stn AS DOUBLE)
                     / CAST(nn AS DOUBLE))) AS z
  FROM tots
)
SELECT t AS priority_score,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(n_returned AS BIGINT) AS n_returned,
       sign(CAST(n_returned AS DOUBLE) / CAST(n_orders AS DOUBLE))
         * floor(abs(CAST(n_returned AS DOUBLE) / CAST(n_orders AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS return_rate,
       sign(z) * floor(abs(z) * 1000000.0 + 0.5) / 1000000.0 AS z_ca,
       sign(z * z) * floor(abs(z * z) * 1000000.0 + 0.5) / 1000000.0 AS chi2_ca
FROM grp CROSS JOIN s
ORDER BY priority_score
"""


_LN6 = 1.791759469228055  # ln(6), pinned literal (engine-libm-independent)


def permutation_entropy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt & Pompe 2002, order m=3) of the daily
    revenue series: each consecutive day-triple maps to its ORDINAL
    PATTERN (which of the 6 orderings the three values form, ties
    broken toward the earlier day), and the Shannon entropy of the
    pattern distribution — normalized by ln(6) — measures how
    predictable the series' local shape is (0 = one rigid motif, e.g.
    a strict ramp; 1 = all 6 motifs equally likely, white-noise-like).
    The complexity member of the daily-series panel (randomness panel
    counts turning points; this weighs their full distribution).

    Plan: one orders shuffle to the calendar-bounded daily frame; two
    lag windows over it (sanctioned: ≤ a few thousand rows at ANY
    corpus size); the pattern census is a ≤6-row aggregate.
    Exactness: patterns are pure integer comparisons on exact cents;
    each p·ln(p) term quantizes to integer nano-nats immediately (the
    lnq idiom), the entropy is an exact ≤6-term integer sum, and the
    normalization divides by a PINNED ln(6) literal so no engine libm
    constant enters."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    wl = Window.orderBy("d")
    tri = daily.select(
        F.lag("cents", 2).over(wl).alias("x1"),
        F.lag("cents", 1).over(wl).alias("x2"),
        F.col("cents").alias("x3"),
    ).filter(F.col("x1").isNotNull() & F.col("x2").isNotNull())
    x1, x2, x3 = F.col("x1"), F.col("x2"), F.col("x3")
    r1 = (x2 < x1).cast("int") + (x3 < x1).cast("int")
    r2 = (x1 <= x2).cast("int") + (x3 < x2).cast("int")
    r3 = (x1 <= x3).cast("int") + (x2 <= x3).cast("int")
    cnt = (
        tri.select(F.concat(r1.cast("string"), r2.cast("string"), r3.cast("string")).alias("pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n_triples"))
    )
    tot = cnt.agg(F.sum("n_triples").alias("tt"))
    p = F.col("n_triples").cast("double") / F.col("tt").cast("double")
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        "pattern",
        "n_triples",
        _floor_round(p, 6).alias("share"),
        F.round(p * F.log(p) * F.lit(1.0e9), 0).cast("long").alias("t_q"),
    )
    h = terms.agg(F.sum("t_q").alias("hq"))
    return (
        terms.crossJoin(F.broadcast(h))
        .select(
            "pattern",
            "n_triples",
            "share",
            ((-F.col("hq")).cast("double") / F.lit(1.0e9)).alias("h_nats"),
            _floor_round(
                (-F.col("hq")).cast("double") / F.lit(1.0e9) / F.lit(_LN6), 6
            ).alias("h_normalized"),
        )
        .orderBy("pattern")
    )


ORACLE_PERMUTATION_ENTROPY_REVENUE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), tri AS (
  SELECT LAG(cents, 2) OVER (ORDER BY d) AS x1,
         LAG(cents, 1) OVER (ORDER BY d) AS x2,
         cents AS x3
  FROM daily
), pat AS (
  SELECT CONCAT(CAST(CAST(x2 < x1 AS INT) + CAST(x3 < x1 AS INT) AS VARCHAR),
                CAST(CAST(x1 <= x2 AS INT) + CAST(x3 < x2 AS INT) AS VARCHAR),
                CAST(CAST(x1 <= x3 AS INT) + CAST(x2 <= x3 AS INT) AS VARCHAR))
           AS pattern
  FROM tri WHERE x1 IS NOT NULL AND x2 IS NOT NULL
), cnt AS (
  SELECT pattern, COUNT(*) AS n_triples FROM pat GROUP BY 1
), tot AS (SELECT SUM(n_triples) AS tt FROM cnt),
terms AS (
  SELECT pattern, n_triples,
         sign(CAST(n_triples AS DOUBLE) / CAST(tt AS DOUBLE))
           * floor(abs(CAST(n_triples AS DOUBLE) / CAST(tt AS DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0 AS share,
         CAST(ROUND((CAST(n_triples AS DOUBLE) / CAST(tt AS DOUBLE))
                    * ln(CAST(n_triples AS DOUBLE) / CAST(tt AS DOUBLE))
                    * 1000000000.0, 0) AS BIGINT) AS t_q
  FROM cnt CROSS JOIN tot
), h AS (SELECT SUM(t_q) AS hq FROM terms)
SELECT pattern, n_triples, share,
       CAST(-hq AS DOUBLE) / 1000000000.0 AS h_nats,
       sign(CAST(-hq AS DOUBLE) / 1000000000.0 / {_LN6!r})
         * floor(abs(CAST(-hq AS DOUBLE) / 1000000000.0 / {_LN6!r})
                 * 1000000.0 + 0.5) / 1000000.0 AS h_normalized
FROM terms CROSS JOIN h
ORDER BY pattern
"""


def _bp_terms(order: int, with_x: int) -> list[tuple[float, int, int, tuple[int, int]]]:
    """Multinomial expansion terms of x^with_x · (v − a − b·x)^order:
    (signed coefficient, a-power, b-power, (x-power, v-power)) —
    shared by the Spark column builder and the SQL string builder so
    the two engines evaluate the IDENTICAL term sequence."""
    import math as _math

    out = []
    for p in range(order + 1):  # v^p
        for q in range(order + 1 - p):  # (−a)^q
            r = order - p - q  # (−b·x)^r
            coef = _math.factorial(order) // (
                _math.factorial(p) * _math.factorial(q) * _math.factorial(r)
            )
            signed = float(coef * (-1) ** (q + r))
            out.append((signed, q, r, (r + with_x, p)))
    return sorted(out, key=lambda t: (t[3], t[1], t[2]))


def _bp_spark_poly(terms, a, b, s):
    expr = None
    for coef, qa, qb, key in terms:
        t = F.lit(coef)
        for _ in range(qa):
            t = t * a
        for _ in range(qb):
            t = t * b
        t = t * s[key]
        expr = t if expr is None else expr + t
    return expr


def _bp_sql_poly(terms) -> str:
    parts = []
    for coef, qa, qb, (i, j) in terms:
        t = f"{coef!r}"
        t += " * aa" * qa
        t += " * bb" * qb
        t += f" * s{i}{j}"
        parts.append(t)
    return "(" + " + ".join(parts) + ")"


# Rows-per-distinct-grid-cell needed before the grid fold's extra
# groupBy shuffle amortizes (measured: sf1 rows/cells ≈ 1.1 → per-row
# wins 4.3 s vs 9.1 s; sf10 rows/cells ≈ 4 → grid wins 11.7 s vs
# 37.9 s; the crossover sits between, and 3 rows/cell is where the
# map-side combine starts genuinely shrinking the shuffle).
_BP_GRID_AMORT = 3.0


def breusch_pagan_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan / Koenker heteroskedasticity test on the
    price-on-quantity regression: does the VARIANCE of extended price
    around the fitted line grow with quantity?  regr_price_quantity
    fits the line; its inference (standard errors, the correlation
    test) silently assumes constant residual variance — this is the
    test of that assumption, and on retail-shaped data it fails
    (bigger orders vary more), which is exactly what a pricing-anomaly
    monitor must know before trusting z-scores from the fit.  Reports
    the classic BP LM and the studentized Koenker LM (robust to
    non-normal residuals), both χ²(1).

    Exactness at scale (the jarque_bera posture, bivariate): price
    quantizes to whole currency units about a global integer pivot,
    quantity is a small exact integer, and ONE aggregation pass folds
    all 15 exact decimal moments S_ij = Σ xⁱvʲ (i+j ≤ 4).  Σe² , Σxe²
    and Σe⁴ then come from multinomial pivot-shift expansions whose
    term sequence is GENERATED ONCE (_bp_terms) and rendered into both
    engines in the identical order — the double arithmetic is
    value-determined op-for-op.  No windows; the fact table reduces to
    15 numbers.

    Fold choice is CARDINALITY-GATED (VERDICT r11 ask #6): the pivot
    pre-pass also folds COUNT(*) and an HLL estimate of the distinct
    (quantity, price) grid — v = price − pivot is a bijection of
    price, so distinct (x, v) == distinct (quantity, price) and the
    gate needs no pivot — at zero extra scans.  When rows ≥
    _BP_GRID_AMORT × grid cells (the value domain has saturated — the
    sf10+ regime, measured 37.9 s per-row vs 11.7 s grid at sf10) the
    moments fold over the distinct-cell GRID with count weights;
    below that the grid groupBy is pure overhead (sf1: 9.1 s grid vs
    4.3 s per-row — the cells are nearly the rows) and the moments
    fold directly per row.  Both branches produce the identical exact
    decimal moments, so the oracle is branch-independent (pytest pins
    branch equality; SPARK_GRAFT_BP_FORCE=grid|rows overrides)."""
    import os

    li = table(spark, sf_dir, "lineitem")
    yq = F.col("l_extendedprice").cast("long")  # whole units, trunc
    # ONE pre-pass: exact integer pivot + rows + HLL grid estimate.
    # The 1-row collect is plan-time bounded by construction and lets
    # the pivot enter the fold as a literal (no broadcast cross join).
    pre = li.agg(
        F.floor(
            F.sum(yq.cast(_DEC38)).cast("double") / F.count(F.lit(1)).cast("double")
        )
        .cast("long")
        .alias("p"),
        F.count(F.lit(1)).alias("nr"),
        F.approx_count_distinct(
            F.struct(F.col("l_quantity"), F.col("l_extendedprice"))
        ).alias("ndv"),
    ).collect()[0]
    force = os.environ.get("SPARK_GRAFT_BP_FORCE")
    use_grid = (
        True
        if force == "grid"
        else False
        if force == "rows"
        else pre["nr"] >= _BP_GRID_AMORT * pre["ndv"]
    )
    # Products stay in LONG — x ≤ 50 and |v| is bounded by the price
    # value domain (≤ ~6.7e4 units for this schema; int64-safe to
    # |v| ≤ 2.6e5), the largest being x·v³ ≈ 1.5e16 ≪ 2^63 — and cast
    # to DECIMAL only for the (optional) count weighting and the sum
    # (the dec_sum idiom); v⁴ (~2e19, wraps int64) squares the long
    # v² in DECIMAL.
    base = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        (yq - F.lit(int(pre["p"]))).alias("v"),
    )
    if use_grid:
        grid = base.groupBy("x", "v").agg(F.count(F.lit(1)).alias("c"))
        c = F.col("c").cast(_DEC38)
        n_agg = F.sum(c).alias("n")
    else:
        grid = base
        c = None
        n_agg = F.count(F.lit(1)).cast(_DEC38).alias("n")
    xl, vl = F.col("x"), F.col("v")
    v2 = vl * vl
    prod = {
        (1, 0): xl,
        (0, 1): vl,
        (2, 0): xl * xl,
        (1, 1): xl * vl,
        (0, 2): v2,
        (3, 0): xl * xl * xl,
        (2, 1): xl * xl * vl,
        (1, 2): xl * v2,
        (0, 3): v2 * vl,
        (4, 0): xl * xl * xl * xl,
        (3, 1): xl * xl * xl * vl,
        (2, 2): xl * xl * v2,
        (1, 3): xl * v2 * vl,
    }
    aggs = [n_agg]
    for i in range(5):
        for j in range(5 - i):
            if i == j == 0:
                continue
            if (i, j) == (0, 4):
                e = v2.cast(_DEC38) * v2.cast(_DEC38)
            else:
                e = prod[(i, j)].cast(_DEC38)
            if c is not None:
                e = e * c
            aggs.append(F.sum(e).alias(f"s{i}{j}"))
    m = grid.agg(*aggs)
    s = {
        (i, j): (
            F.col("n").cast("double")
            if i == j == 0
            else F.col(f"s{i}{j}").cast("double")
        )
        for i in range(5)
        for j in range(5 - i)
    }
    n = s[(0, 0)]
    bb = (n * s[(1, 1)] - s[(1, 0)] * s[(0, 1)]) / (
        n * s[(2, 0)] - s[(1, 0)] * s[(1, 0)]
    )
    aa = (s[(0, 1)] - bb * s[(1, 0)]) / n
    withcoef = m.select(
        F.col("n").cast("long").alias("n_rows"),
        aa.alias("aa"),
        bb.alias("bb"),
        *[
            F.col(f"s{i}{j}")
            for i in range(5)
            for j in range(5 - i)
            if not (i == 0 and j == 0)
        ],
        F.col("n"),
    )
    s2 = {
        (i, j): (
            F.col("n").cast("double")
            if i == j == 0
            else F.col(f"s{i}{j}").cast("double")
        )
        for i in range(5)
        for j in range(5 - i)
    }
    a_c, b_c = F.col("aa"), F.col("bb")
    su = _bp_spark_poly(_bp_terms(2, 0), a_c, b_c, s2)
    sxu = _bp_spark_poly(_bp_terms(2, 1), a_c, b_c, s2)
    suu = _bp_spark_poly(_bp_terms(4, 0), a_c, b_c, s2)
    nn = F.col("n").cast("double")
    sxx_c = s2[(2, 0)] - s2[(1, 0)] * s2[(1, 0)] / nn
    sxu_c = sxu - s2[(1, 0)] * su / nn
    suu_c = suu - su * su / nn
    sigma2 = su / nn
    lm_koenker = nn * sxu_c * sxu_c / (sxx_c * suu_c)
    lm_classic = sxu_c * sxu_c / (sxx_c * F.lit(2.0) * sigma2 * sigma2)
    return withcoef.select(
        F.col("n_rows"),
        _floor_round(b_c, 6).alias("slope_units_per_qty"),
        _floor_round(sigma2, 2).alias("sigma2_hat"),
        _floor_round(lm_koenker, 4).alias("lm_koenker"),
        _floor_round(lm_classic, 4).alias("lm_classic"),
        F.lit(1).cast("long").alias("dof"),
    )


def _oracle_breusch_pagan_price_quantity() -> str:
    mom_cols = ",\n         ".join(
        f"SUM({'v * ' * j}{'x * ' * i}CAST(1 AS HUGEINT)) AS s{i}{j}"
        for i in range(5)
        for j in range(5 - i)
        if not (i == 0 and j == 0)
    )
    sel_cols = ", ".join(
        f"CAST(s{i}{j} AS DOUBLE) AS s{i}{j}"
        for i in range(5)
        for j in range(5 - i)
        if not (i == 0 and j == 0)
    )
    su = _bp_sql_poly(_bp_terms(2, 0)).replace("s00", "nn")
    sxu = _bp_sql_poly(_bp_terms(2, 1)).replace("s00", "nn")
    suu = _bp_sql_poly(_bp_terms(4, 0)).replace("s00", "nn")
    return f"""
WITH piv AS (
  SELECT CAST(floor(CAST(SUM(CAST(trunc(l_extendedprice) AS HUGEINT)) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS p
  FROM lineitem
), base AS (
  SELECT CAST(CAST(l_quantity AS BIGINT) AS HUGEINT) AS x,
         CAST(CAST(trunc(l_extendedprice) AS BIGINT) - p AS HUGEINT) AS v
  FROM lineitem CROSS JOIN piv
), m AS (
  SELECT COUNT(*) AS n,
         {mom_cols}
  FROM base
), g AS (
  SELECT CAST(n AS BIGINT) AS n_rows, CAST(n AS DOUBLE) AS nn, {sel_cols}
  FROM m
), fit AS (
  SELECT *,
         (nn * s11 - s10 * s01) / (nn * s20 - s10 * s10) AS bb
  FROM g
), fit2 AS (
  SELECT *, (s01 - bb * s10) / nn AS aa FROM fit
), ex AS (
  SELECT n_rows, nn, bb, s10, s20,
         {su} AS su,
         {sxu} AS sxu,
         {suu} AS suu
  FROM fit2
), st AS (
  SELECT n_rows, nn, bb,
         s20 - s10 * s10 / nn AS sxx_c,
         sxu - s10 * su / nn AS sxu_c,
         suu - su * su / nn AS suu_c,
         su / nn AS sigma2
  FROM ex
), r AS (
  SELECT n_rows, bb, sigma2,
         nn * sxu_c * sxu_c / (sxx_c * suu_c) AS lm_koenker,
         sxu_c * sxu_c / (sxx_c * 2.0 * sigma2 * sigma2) AS lm_classic
  FROM st
)
SELECT n_rows,
       sign(bb) * floor(abs(bb) * 1000000.0 + 0.5) / 1000000.0
         AS slope_units_per_qty,
       sign(sigma2) * floor(abs(sigma2) * 100.0 + 0.5) / 100.0 AS sigma2_hat,
       sign(lm_koenker) * floor(abs(lm_koenker) * 10000.0 + 0.5) / 10000.0
         AS lm_koenker,
       sign(lm_classic) * floor(abs(lm_classic) * 10000.0 + 0.5) / 10000.0
         AS lm_classic,
       CAST(1 AS BIGINT) AS dof
FROM r
"""


ORACLE_BREUSCH_PAGAN_PRICE_QUANTITY = _oracle_breusch_pagan_price_quantity()


def dunns_posthoc_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc test: WHICH event-type pairs differ, after
    kruskal_wallis_event_values says SOME pair does.  For each of the
    k(k−1)/2 unordered type pairs, z = (R̄_i − R̄_j) /
    sqrt(S²(1/nᵢ+1/nⱼ)) with the tie-corrected pooled rank variance
    S² = N(N+1)/12 − Σ(t³−t)/(12(N−1)) — the standard KW follow-up
    (rank sums are computed ONCE on the pooled ranking, unlike
    pairwise Mann–Whitney re-ranks, which is what keeps the family
    error controllable with a single Bonferroni divisor m = k(k−1)/2,
    reported alongside).

    Scale/exactness: identical sufficient statistics to KW — one
    conditional-count pass, the two-level rank2_map (doubled integer
    mid-ranks), per-group (n_g, Σc·r2) exact decimal folds; the pair
    frame is k²-sized (k = event-type vocabulary), every z one
    mirrored IEEE expression of exact integers."""
    from data_ingestion_project_spark.operators.quantiles import rank2_map

    e = table(spark, sf_dir, "events")
    base = e.select(to_micro(F.col("value")).alias("v"), "event_type")
    ranks = rank2_map(base, "v", bucket_width=10_000_000)
    per = base.groupBy("v", "event_type").agg(F.count(F.lit(1)).alias("c"))
    grp = pin(
        per.join(ranks, "v")
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(F.col("c").cast(_DEC38) * F.col("r2").cast(_DEC38)).alias("r2_g"),
        )
    )
    ties = ranks.agg(
        F.sum(
            F.col("cnt").cast(_DEC38) * F.col("cnt").cast(_DEC38) * F.col("cnt").cast(_DEC38)
            - F.col("cnt").cast(_DEC38)
        ).alias("ties")
    )
    tot = grp.agg(
        F.sum("n_g").alias("n"), F.count(F.lit(1)).alias("k")
    ).crossJoin(F.broadcast(ties))
    a = grp.select(
        F.col("event_type").alias("type_a"),
        F.col("n_g").alias("n_a"),
        F.col("r2_g").alias("r2_a"),
    )
    b = grp.select(
        F.col("event_type").alias("type_b"),
        F.col("n_g").alias("n_b"),
        F.col("r2_g").alias("r2_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b")).crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    s2 = nd * (nd + F.lit(1.0)) / F.lit(12.0) - F.col("ties").cast("double") / (
        F.lit(12.0) * (nd - F.lit(1.0))
    )
    ma = F.col("r2_a").cast("double") / F.lit(2.0) / F.col("n_a").cast("double")
    mb = F.col("r2_b").cast("double") / F.lit(2.0) / F.col("n_b").cast("double")
    z = (ma - mb) / F.sqrt(
        s2
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        _floor_round(ma, 6).alias("mean_rank_a"),
        _floor_round(mb, 6).alias("mean_rank_b"),
        _floor_round(z, 6).alias("z_dunn"),
        (kd * (kd - F.lit(1.0)) / F.lit(2.0)).cast("long").alias("m_bonferroni"),
    ).orderBy("type_a", "type_b")


ORACLE_DUNNS_POSTHOC_EVENT_VALUES = """
WITH base AS (
  SELECT CAST(trunc(value * 1000000) AS BIGINT) AS v, event_type
  FROM events
), ranks AS ({rank2}),
per AS (
  SELECT v, event_type, COUNT(*) AS c FROM base GROUP BY 1, 2
), grp AS (
  SELECT per.event_type, SUM(per.c) AS n_g,
         SUM(CAST(per.c AS HUGEINT) * ranks.r2) AS r2_g
  FROM per JOIN ranks ON ranks.v = per.v
  GROUP BY 1
), ties AS (
  SELECT SUM(CAST(c AS HUGEINT) * c * c - c) AS ties FROM ranks
), tot AS (
  SELECT SUM(n_g) AS n, COUNT(*) AS k FROM grp
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n_g AS n_a, b.n_g AS n_b, a.r2_g AS r2_a, b.r2_g AS r2_b,
         tot.n, tot.k, ties.ties
  FROM grp a JOIN grp b ON a.event_type < b.event_type
  CROSS JOIN tot CROSS JOIN ties
), s AS (
  SELECT type_a, type_b, n_a, n_b,
         CAST(r2_a AS DOUBLE) / 2.0 / CAST(n_a AS DOUBLE) AS ma,
         CAST(r2_b AS DOUBLE) / 2.0 / CAST(n_b AS DOUBLE) AS mb,
         CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 12.0
           - CAST(ties AS DOUBLE) / (12.0 * (CAST(n AS DOUBLE) - 1.0)) AS s2,
         CAST(k AS DOUBLE) AS kd
  FROM pairs
), z AS (
  SELECT type_a, type_b, n_a, n_b, ma, mb, kd,
         (ma - mb) / sqrt(s2 * (1.0 / CAST(n_a AS DOUBLE)
                                + 1.0 / CAST(n_b AS DOUBLE))) AS z
  FROM s
)
SELECT type_a, type_b,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       sign(ma) * floor(abs(ma) * 1000000.0 + 0.5) / 1000000.0 AS mean_rank_a,
       sign(mb) * floor(abs(mb) * 1000000.0 + 0.5) / 1000000.0 AS mean_rank_b,
       sign(z) * floor(abs(z) * 1000000.0 + 0.5) / 1000000.0 AS z_dunn,
       CAST(kd * (kd - 1.0) / 2.0 AS BIGINT) AS m_bonferroni
FROM z
ORDER BY type_a, type_b
""".format(rank2=_SQL_RANK2.format(v="v", src="base"))


_EWMA_LAMBDA = 0.2
_EWMA_HORIZON = 40  # (1-λ)^40 ≈ 1.3e-4 — truncation is the model
_EWMA_WEIGHTS = tuple(
    _EWMA_LAMBDA * (1.0 - _EWMA_LAMBDA) ** (i - 1)
    for i in range(1, _EWMA_HORIZON + 1)
)


def ewma_breach_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart on daily revenue (λ = 0.2, 40-day truncated
    horizon): each day's revenue is compared against the
    exponentially-weighted mean of the PRIOR days, and the days whose
    residual exceeds 3 residual-σ are the chart's out-of-control
    signals — the classic SPC monitor (bollinger_breakout_days is its
    fixed-window cousin; EWMA reacts faster to small sustained
    shifts).  Reports the top-10 breach days by |residual| with the
    chart parameters.

    Exactness: the geometric weights are PINNED Python-float literals
    (the periodogram idiom — no pow() in either engine; the 40-term
    truncation is part of the statistic's definition, weights beyond
    carry < 1.3e-4 of the mass); each weighted term quantizes to
    integer micro-units, per-day numerator/denominator are exact
    integer folds (the denominator re-normalizes at the series head,
    where fewer than 40 lags exist), the residual re-quantizes to
    integer cents, and σ comes from exact decimal moments.

    Plan: one orders shuffle to the calendar-bounded daily frame; the
    lag join is daily × 40 offsets (≤ 100k cells at ANY corpus size)
    against literal weights; a TakeOrdered top-10."""
    o = table(spark, sf_dir, "orders")
    wl = Window.orderBy("d")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .withColumn("t", F.row_number().over(wl))
    )
    offsets = spark.createDataFrame(
        [(i + 1, w) for i, w in enumerate(_EWMA_WEIGHTS)], "i int, w double"
    )
    lag = daily.select(F.col("t").alias("tl"), F.col("cents").alias("xl"))
    pred = (
        daily.crossJoin(F.broadcast(offsets))
        .join(lag, F.col("tl") == F.col("t") - F.col("i"))
        .groupBy("d", "t", "cents")
        .agg(
            F.sum(
                F.round(F.col("w") * F.col("xl").cast("double") * F.lit(1.0e6), 0).cast(
                    "long"
                )
            ).alias("num_q"),
            F.sum(F.round(F.col("w") * F.lit(1.0e9), 0).cast("long")).alias("den_q"),
        )
    )
    pred_c = F.col("num_q").cast("double") * F.lit(1000.0) / F.col("den_q").cast("double")
    resid = pin(pred.select(
        "d",
        "cents",
        F.round(F.col("cents").cast("double") - pred_c, 0).cast("long").alias("r_q"),
    ))
    mom = resid.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r_q").cast(_DEC38)).alias("s1"),
        F.sum(F.col("r_q").cast(_DEC38) * F.col("r_q").cast(_DEC38)).alias("s2"),
    )
    nd = F.col("n").cast("double")
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / nd)
        / nd
    )
    z = F.col("r_q").cast("double") / F.col("sd_c")
    flagged = (
        resid.crossJoin(F.broadcast(mom.select(sd.alias("sd_c"), "n")))
        .withColumn("is_breach", (F.abs(F.col("r_q").cast("double")) > F.lit(3.0) * F.col("sd_c")).cast("int"))
    )
    nb = flagged.agg(F.sum("is_breach").alias("n_breaches"))
    return (
        flagged.filter(F.col("is_breach") == 1)
        .crossJoin(F.broadcast(nb))
        .orderBy(F.abs("r_q").desc(), F.col("d").asc())
        .limit(10)
        .select(
            F.col("d").cast("string").alias("day"),
            (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue_usd"),
            (F.col("r_q").cast("double") / F.lit(100.0)).alias("residual_usd"),
            _floor_round(z, 4).alias("z_score"),
            _floor_round(F.col("sd_c") / F.lit(100.0), 2).alias("sigma_usd"),
            F.col("n_breaches").cast("long").alias("n_breaches"),
            F.col("n").cast("long").alias("n_days"),
        )
    )


def _oracle_ewma_breach_days() -> str:
    wvals = ", ".join(f"({i}, {w!r})" for i, w in enumerate(_EWMA_WEIGHTS, start=1))
    return f"""
WITH daily0 AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), daily AS (
  SELECT d, cents, CAST(ROW_NUMBER() OVER (ORDER BY d) AS INT) AS t FROM daily0
), offsets(i, w) AS (VALUES {wvals}),
pred AS (
  SELECT a.d, a.cents,
         SUM(CAST(ROUND(o.w * CAST(l.cents AS DOUBLE) * 1000000.0, 0) AS BIGINT))
           AS num_q,
         SUM(CAST(ROUND(o.w * 1000000000.0, 0) AS BIGINT)) AS den_q
  FROM daily a
  CROSS JOIN offsets o
  JOIN daily l ON l.t = a.t - o.i
  GROUP BY a.d, a.cents
), resid AS (
  SELECT d, cents,
         CAST(ROUND(CAST(cents AS DOUBLE)
                    - CAST(num_q AS DOUBLE) * 1000.0 / CAST(den_q AS DOUBLE),
                    0) AS BIGINT) AS r_q
  FROM pred
), mom AS (
  SELECT COUNT(*) AS n, SUM(CAST(r_q AS HUGEINT)) AS s1,
         SUM(CAST(r_q AS HUGEINT) * r_q) AS s2
  FROM resid
), sd AS (
  SELECT n,
         sqrt((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              / CAST(n AS DOUBLE)) AS sd_c
  FROM mom
), flagged AS (
  SELECT r.d, r.cents, r.r_q, sd.sd_c, sd.n,
         CASE WHEN abs(CAST(r.r_q AS DOUBLE)) > 3.0 * sd.sd_c
              THEN 1 ELSE 0 END AS is_breach
  FROM resid r CROSS JOIN sd
), nb AS (SELECT SUM(is_breach) AS n_breaches FROM flagged)
SELECT CAST(d AS VARCHAR) AS day,
       CAST(cents AS DOUBLE) / 100.0 AS revenue_usd,
       CAST(r_q AS DOUBLE) / 100.0 AS residual_usd,
       sign(CAST(r_q AS DOUBLE) / sd_c)
         * floor(abs(CAST(r_q AS DOUBLE) / sd_c) * 10000.0 + 0.5) / 10000.0
         AS z_score,
       sign(sd_c / 100.0) * floor(abs(sd_c / 100.0) * 100.0 + 0.5) / 100.0
         AS sigma_usd,
       CAST(nb.n_breaches AS BIGINT) AS n_breaches,
       CAST(n AS BIGINT) AS n_days
FROM flagged CROSS JOIN nb
WHERE is_breach = 1
ORDER BY abs(CAST(r_q AS DOUBLE)) DESC, d ASC
LIMIT 10
"""


ORACLE_EWMA_BREACH_DAYS = _oracle_ewma_breach_days()


_PERIODOGRAM_PERIODS = tuple(range(2, 31))


def _periodogram_angles() -> list[tuple[int, int, float, float]]:
    """(period, day mod period, cos, sin) for every residue class —
    Σ_P P = 464 PINNED Python-float literals shared by both engines,
    so no cos/sin libm call ever runs inside either engine (a 1-ulp
    cos() divergence between JVM StrictMath and DuckDB libm would
    otherwise be a per-cell hash-flip risk)."""
    import math as _math

    out = []
    for per in _PERIODOGRAM_PERIODS:
        for r in range(per):
            th = 2.0 * _math.pi * r / per
            out.append((per, r, _math.cos(th), _math.sin(th)))
    return out


def dominant_cycle_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schuster periodogram of daily revenue over candidate periods
    2–30 days: spectral power I(P) = a_P² + b_P² with
    a_P = Σ_t v_t·cos(2πt/P), b_P = Σ_t v_t·sin(2πt/P) — the
    frequency-domain twin of revenue_seasonality (which ASSUMES the
    weekly cycle; this FINDS the dominant cycle, flagging e.g. a
    biweekly payroll harmonic the weekly model would alias).  Reports
    per-period power share and the dominant period.

    Exactness: deviations fold about a global integer pivot (the
    jarque_bera idiom); cos/sin enter ONLY as pinned literals keyed by
    (P, t mod P) — see _periodogram_angles — so each term
    v·cos(2π(t mod P)/P) is one IEEE product of an exact integer and a
    shared literal, quantized to integer milli-units; a_P/b_P are
    exact integer folds and the power squares fold in DECIMAL(38,0).

    Plan: one orders shuffle to the calendar-bounded daily frame; the
    sweep is daily × 29 periods (≤ 70k cells at ANY corpus size)
    broadcast-joined to the 464-row literal angle table."""
    o = table(spark, sf_dir, "orders")
    daily = pin(
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum((F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .select(
            F.datediff("d", F.to_date(F.lit("1995-01-01"), "yyyy-MM-dd")).alias(
                "day"
            ),
            "cents",
        )
    )
    piv = daily.agg(
        F.floor(
            F.sum(F.col("cents").cast(_DEC38)).cast("double")
            / F.count(F.lit(1)).cast("double")
        )
        .cast("long")
        .alias("p")
    )
    angles = spark.createDataFrame(
        _periodogram_angles(), "period int, r int, cosv double, sinv double"
    )
    periods = spark.createDataFrame(
        [(p,) for p in _PERIODOGRAM_PERIODS], "period int"
    )
    cells = (
        daily.crossJoin(F.broadcast(piv))
        .crossJoin(F.broadcast(periods))
        .select(
            "period",
            F.pmod(F.col("day"), F.col("period")).alias("r"),
            (F.col("cents") - F.col("p")).alias("v"),
        )
        .join(F.broadcast(angles), ["period", "r"])
    )
    folded = cells.groupBy("period").agg(
        F.sum(
            F.round(F.col("v").cast("double") * F.col("cosv") * F.lit(1.0e3), 0).cast(
                "long"
            )
        ).alias("a_q"),
        F.sum(
            F.round(F.col("v").cast("double") * F.col("sinv") * F.lit(1.0e3), 0).cast(
                "long"
            )
        ).alias("b_q"),
        F.count(F.lit(1)).alias("n_days"),
    )
    power_q = (
        F.col("a_q").cast(_DEC38) * F.col("a_q").cast(_DEC38)
        + F.col("b_q").cast(_DEC38) * F.col("b_q").cast(_DEC38)
    )
    pw = pin(folded.select("period", "n_days", power_q.alias("pq")))
    tot = pw.agg(F.sum("pq").alias("tq"))
    ranked = pw.crossJoin(F.broadcast(tot)).select(
        "period",
        F.col("n_days").cast("long").alias("n_days"),
        # no floor_round: pq is an exact DECIMAL both engines convert
        # to double with correct rounding, and /1e6 is one IEEE op —
        # (and floor()'s long range would overflow at this magnitude)
        (F.col("pq").cast("double") / F.lit(1.0e6)).alias("power"),
        _floor_round(
            F.col("pq").cast("double") / F.col("tq").cast("double"), 6
        ).alias("power_share"),
    )
    dom = (
        pw.orderBy(F.col("pq").desc(), F.col("period").asc())
        .limit(1)
        .select(F.col("period").alias("dominant_period"))
    )
    return (
        ranked.crossJoin(F.broadcast(dom))
        .select("period", "n_days", "power", "power_share", "dominant_period")
        .orderBy("period")
    )


def _oracle_dominant_cycle_periodogram() -> str:
    avals = ",\n    ".join(
        f"({p}, {r}, {c!r}, {s!r})" for p, r, c, s in _periodogram_angles()
    )
    pvals = ", ".join(f"({p})" for p in _PERIODOGRAM_PERIODS)
    return f"""
WITH daily AS (
  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day,
         SUM(CAST(trunc(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), piv AS (
  SELECT CAST(floor(CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS p
  FROM daily
), angles(period, r, cosv, sinv) AS (VALUES
    {avals}
), periods(period) AS (VALUES {pvals}),
cells AS (
  -- non-negative residue to match Spark's pmod: DuckDB's % takes the
  -- dividend's sign, so a pre-1995-01-01 day would otherwise produce a
  -- negative residue that silently misses the angles join (ADVICE r11)
  SELECT pr.period, ((d.day % pr.period) + pr.period) % pr.period AS r,
         d.cents - piv.p AS v
  FROM daily d CROSS JOIN piv CROSS JOIN periods pr
), folded AS (
  SELECT c.period,
         SUM(CAST(ROUND(CAST(c.v AS DOUBLE) * a.cosv * 1000.0, 0) AS BIGINT))
           AS a_q,
         SUM(CAST(ROUND(CAST(c.v AS DOUBLE) * a.sinv * 1000.0, 0) AS BIGINT))
           AS b_q,
         COUNT(*) AS n_days
  FROM cells c JOIN angles a ON a.period = c.period AND a.r = c.r
  GROUP BY c.period
), pw AS (
  SELECT period, n_days,
         CAST(a_q AS HUGEINT) * a_q + CAST(b_q AS HUGEINT) * b_q AS pq
  FROM folded
), tot AS (SELECT SUM(pq) AS tq FROM pw),
dom AS (
  SELECT period AS dominant_period FROM pw
  ORDER BY pq DESC, period ASC LIMIT 1
)
SELECT period, CAST(n_days AS BIGINT) AS n_days,
       CAST(pq AS DOUBLE) / 1000000.0 AS power,
       sign(CAST(pq AS DOUBLE) / CAST(tq AS DOUBLE))
         * floor(abs(CAST(pq AS DOUBLE) / CAST(tq AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS power_share,
       dominant_period
FROM pw CROSS JOIN tot CROSS JOIN dom
ORDER BY period
"""


ORACLE_DOMINANT_CYCLE_PERIODOGRAM = _oracle_dominant_cycle_periodogram()


QUERIES = {
    "bartlett_event_values": bartlett_event_values,
    "mood_median_test": mood_median_test,
    "ljung_box_revenue": ljung_box_revenue,
    "grubbs_outlier_day": grubbs_outlier_day,
    "cvm_length_drift": cvm_length_drift,
    "wilcoxon_first_last_order": wilcoxon_first_last_order,
    "cochran_q_first_day": cochran_q_first_day,
    "runs_test_revenue": runs_test_revenue,
    "page_trend_test": page_trend_test,
    "mann_kendall_trend": mann_kendall_trend,
    "pettitt_changepoint": pettitt_changepoint,
    "logrank_segment_churn": logrank_segment_churn,
    "bollinger_breakout_days": bollinger_breakout_days,
    "kendalls_w_region_brands": kendalls_w_region_brands,
    "bhattacharyya_segments": bhattacharyya_segments,
    "revenue_streaks": revenue_streaks,
    "cramers_v_matrix": cramers_v_matrix,
    "hill_tail_index": hill_tail_index,
    "hurst_exponent_rs": hurst_exponent_rs,
    "nelson_aalen_hazard": nelson_aalen_hazard,
    "kruskal_wallis_event_values": kruskal_wallis_event_values,

    "chisq_event_dow": chisq_event_dow,
    "spearman_price_quantity": spearman_price_quantity,
    "mannwhitney_event_values": mannwhitney_event_values,
    "kendall_tau_daily": kendall_tau_daily,
    "simpson_paradox_audit": simpson_paradox_audit,
    "anova_event_values": anova_event_values,
    "ks_length_drift": ks_length_drift,
    "regr_price_quantity": regr_price_quantity,
    "mi_label_dims": mi_label_dims,
    "welch_event_values": welch_event_values,
    "join_key_skew_audit": join_key_skew_audit,
    "revenue_seasonality": revenue_seasonality,
    "psi_length_drift": psi_length_drift,
    "jsd_source_vocab": jsd_source_vocab,
    "seasonal_anomaly_days": seasonal_anomaly_days,
    "benford_order_totals": benford_order_totals,
    "residual_autocorr": residual_autocorr,
    "kaplan_meier_retention": kaplan_meier_retention,
    "theil_sen_revenue_trend": theil_sen_revenue_trend,
    "cusum_revenue_changepoint": cusum_revenue_changepoint,
    "revenue_drawdown": revenue_drawdown,
    "forecast_backtest": forecast_backtest,
    "ols_multivariate": ols_multivariate,
    "cmh_stratified_test": cmh_stratified_test,
    "ordinal_association_panel": ordinal_association_panel,
    "cliffs_delta_segments": cliffs_delta_segments,
    "squared_rank_dispersion_test": squared_rank_dispersion_test,
    "jonckheere_terpstra_priority": jonckheere_terpstra_priority,
    "revenue_randomness_panel": revenue_randomness_panel,
    "bartels_rank_vonneumann": bartels_rank_vonneumann,
    "durbin_watson_revenue": durbin_watson_revenue,
    "weighted_logrank_panel": weighted_logrank_panel,
    "rmst_retention": rmst_retention,
    "quandt_chow_break": quandt_chow_break,
    "brown_forsythe_event_values": brown_forsythe_event_values,
    "theils_u_event_dow": theils_u_event_dow,
    "page_hinkley_drift": page_hinkley_drift,
    "acf_panel_revenue": acf_panel_revenue,
    "friedman_revenue_dow": friedman_revenue_dow,
    "jarque_bera_order_totals": jarque_bera_order_totals,
    "theil_inequality_nations": theil_inequality_nations,
    "g_test_event_dow": g_test_event_dow,
    "cochran_armitage_returns": cochran_armitage_returns,
    "permutation_entropy_revenue": permutation_entropy_revenue,
    "breusch_pagan_price_quantity": breusch_pagan_price_quantity,
    "dominant_cycle_periodogram": dominant_cycle_periodogram,
    "dunns_posthoc_event_values": dunns_posthoc_event_values,
    "ewma_breach_days": ewma_breach_days,
}

ORACLE = {
    "bartlett_event_values": ORACLE_BARTLETT_EVENT_VALUES,
    "mood_median_test": ORACLE_MOOD_MEDIAN_TEST,
    "ljung_box_revenue": ORACLE_LJUNG_BOX_REVENUE,
    "grubbs_outlier_day": ORACLE_GRUBBS_OUTLIER_DAY,
    "cvm_length_drift": ORACLE_CVM_LENGTH_DRIFT,
    "wilcoxon_first_last_order": ORACLE_WILCOXON_FIRST_LAST_ORDER,
    "cochran_q_first_day": ORACLE_COCHRAN_Q_FIRST_DAY,
    "runs_test_revenue": ORACLE_RUNS_TEST_REVENUE,
    "page_trend_test": ORACLE_PAGE_TREND_TEST,
    "mann_kendall_trend": ORACLE_MANN_KENDALL_TREND,
    "pettitt_changepoint": ORACLE_PETTITT_CHANGEPOINT,
    "logrank_segment_churn": ORACLE_LOGRANK_SEGMENT_CHURN,
    "bollinger_breakout_days": ORACLE_BOLLINGER_BREAKOUT_DAYS,
    "kendalls_w_region_brands": ORACLE_KENDALLS_W_REGION_BRANDS,
    "bhattacharyya_segments": ORACLE_BHATTACHARYYA_SEGMENTS,
    "revenue_streaks": ORACLE_REVENUE_STREAKS,
    "cramers_v_matrix": ORACLE_CRAMERS_V_MATRIX,
    "hill_tail_index": ORACLE_HILL_TAIL_INDEX,
    "hurst_exponent_rs": ORACLE_HURST_EXPONENT_RS,
    "nelson_aalen_hazard": ORACLE_NELSON_AALEN_HAZARD,
    "kruskal_wallis_event_values": ORACLE_KRUSKAL_WALLIS_EVENT_VALUES,
    "chisq_event_dow": ORACLE_CHISQ_EVENT_DOW,
    "spearman_price_quantity": ORACLE_SPEARMAN_PRICE_QUANTITY,
    "mannwhitney_event_values": ORACLE_MANNWHITNEY_EVENT_VALUES,
    "kendall_tau_daily": ORACLE_KENDALL_TAU_DAILY,
    "simpson_paradox_audit": ORACLE_SIMPSON_PARADOX_AUDIT,
    "anova_event_values": ORACLE_ANOVA_EVENT_VALUES,
    "ks_length_drift": ORACLE_KS_LENGTH_DRIFT,
    "regr_price_quantity": ORACLE_REGR_PRICE_QUANTITY,
    "mi_label_dims": ORACLE_MI_LABEL_DIMS,
    "welch_event_values": ORACLE_WELCH_EVENT_VALUES,
    "join_key_skew_audit": ORACLE_JOIN_KEY_SKEW_AUDIT,
    "revenue_seasonality": ORACLE_REVENUE_SEASONALITY,
    "psi_length_drift": ORACLE_PSI_LENGTH_DRIFT,
    "jsd_source_vocab": ORACLE_JSD_SOURCE_VOCAB,
    "seasonal_anomaly_days": ORACLE_SEASONAL_ANOMALY_DAYS,
    "benford_order_totals": ORACLE_BENFORD_ORDER_TOTALS,
    "residual_autocorr": ORACLE_RESIDUAL_AUTOCORR,
    "kaplan_meier_retention": ORACLE_KAPLAN_MEIER_RETENTION,
    "theil_sen_revenue_trend": ORACLE_THEIL_SEN_REVENUE_TREND,
    "cusum_revenue_changepoint": ORACLE_CUSUM_REVENUE_CHANGEPOINT,
    "revenue_drawdown": ORACLE_REVENUE_DRAWDOWN,
    "forecast_backtest": ORACLE_FORECAST_BACKTEST,
    "ols_multivariate": ORACLE_OLS_MULTIVARIATE,
    "cmh_stratified_test": ORACLE_CMH_STRATIFIED_TEST,
    "ordinal_association_panel": ORACLE_ORDINAL_ASSOCIATION_PANEL,
    "cliffs_delta_segments": ORACLE_CLIFFS_DELTA_SEGMENTS,
    "squared_rank_dispersion_test": ORACLE_SQUARED_RANK_DISPERSION_TEST,
    "jonckheere_terpstra_priority": ORACLE_JONCKHEERE_TERPSTRA_PRIORITY,
    "revenue_randomness_panel": ORACLE_REVENUE_RANDOMNESS_PANEL,
    "bartels_rank_vonneumann": ORACLE_BARTELS_RANK_VONNEUMANN,
    "durbin_watson_revenue": ORACLE_DURBIN_WATSON_REVENUE,
    "weighted_logrank_panel": ORACLE_WEIGHTED_LOGRANK_PANEL,
    "rmst_retention": ORACLE_RMST_RETENTION,
    "quandt_chow_break": ORACLE_QUANDT_CHOW_BREAK,
    "brown_forsythe_event_values": ORACLE_BROWN_FORSYTHE_EVENT_VALUES,
    "theils_u_event_dow": ORACLE_THEILS_U_EVENT_DOW,
    "page_hinkley_drift": ORACLE_PAGE_HINKLEY_DRIFT,
    "acf_panel_revenue": ORACLE_ACF_PANEL_REVENUE,
    "friedman_revenue_dow": ORACLE_FRIEDMAN_REVENUE_DOW,
    "jarque_bera_order_totals": ORACLE_JARQUE_BERA_ORDER_TOTALS,
    "theil_inequality_nations": ORACLE_THEIL_INEQUALITY_NATIONS,
    "g_test_event_dow": ORACLE_G_TEST_EVENT_DOW,
    "cochran_armitage_returns": ORACLE_COCHRAN_ARMITAGE_RETURNS,
    "permutation_entropy_revenue": ORACLE_PERMUTATION_ENTROPY_REVENUE,
    "breusch_pagan_price_quantity": ORACLE_BREUSCH_PAGAN_PRICE_QUANTITY,
    "dominant_cycle_periodogram": ORACLE_DOMINANT_CYCLE_PERIODOGRAM,
    "dunns_posthoc_event_values": ORACLE_DUNNS_POSTHOC_EVENT_VALUES,
    "ewma_breach_days": ORACLE_EWMA_BREACH_DAYS,
}
