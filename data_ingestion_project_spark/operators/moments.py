"""Keyed bivariate moment asset — standing sufficient statistics for
the statistics-census family (queries/stats.py).

Every statistic in that family (Welch t, one-way ANOVA F, the REGR_*
fits) is a closed-form function of per-group moments
(n, Σx, Σx², Σy, Σxy, Σy²).  Those moments are PLAIN SUMS, so batches
combine by addition — the same mergeable-partial shape as the CMS
cells (operators/cms.py) and the covariance moments
(operators/pca.moment_rows).  This module maintains them as a txn-table
asset: each arriving batch folds its ≤|keys|-row moment frame in with
one fenced additive MERGE, and any test statistic can be refit at ANY
time from the KB-sized stored moments — never a corpus rescan.

The per-row quantization is IDENTICAL to the one-shot queries
(to_micro for the values, micro-trunc for the products — see
queries/_precision.py), so a statistic refit from the asset is
bit-equal to the same statistic computed by the corresponding
queries/stats.py query over the full data (pinned in
tests/test_moments.py).

Reference: n/a — the 418-line pandas ETL (/root/reference) has no
statistics surface; this is a north-star component (SURVEY.md §2 marks
all analytics absent).

At-least-once streaming delivery + additive merge ⇒ the fold is
FENCED exactly like the CMS sink: a (fence_id, batch_id) watermark in
the manifest makes replayed batches no-ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_project_spark.queries._precision import to_micro

_M = 1_000_000
_DEC = "decimal(28,0)"

MOMENT_COLS = ("n", "sx", "sxx", "sy", "sxy", "syy")


def _micro(col):
    return (col * F.lit(float(_M))).cast("long")


def moment_rows(
    df: DataFrame, key_col: str, x_col: str, y_col: str | None = None
) -> DataFrame:
    """A batch's per-key exact integer moments — one row per key,
    DECIMAL(28,0) accumulators (additive, overflow-safe to ~1e22 in
    money units).  ``y_col=None`` writes zero bivariate moments so the
    asset schema is stable whether or not a regression target exists."""
    zero = F.lit(0).cast("long")
    x = F.col(x_col)
    y = F.col(y_col) if y_col is not None else None
    return df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(to_micro(x).cast(_DEC)).alias("sx"),
        F.sum(_micro(x * x).cast(_DEC)).alias("sxx"),
        F.sum((to_micro(y) if y is not None else zero).cast(_DEC)).alias("sy"),
        F.sum((_micro(x * y) if y is not None else zero).cast(_DEC)).alias("sxy"),
        F.sum((_micro(y * y) if y is not None else zero).cast(_DEC)).alias("syy"),
    )


def update_moments_asset(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str | None = None,
    fence: tuple[str, int] | None = None,
) -> None:
    """Fenced additive fold of a batch's moment rows into the standing
    asset — the update_covariance_asset posture
    (operators/pca.update_covariance_asset, through
    txn_table.fold_merge): snapshot-pinned MERGE with ``t.col + s.col``
    update expressions, manifest fence against at-least-once replay,
    conflict-and-retry under concurrent writers.  The merge source is
    ≤|keys| rows regardless of batch size."""
    from data_ingestion_project_spark.operators import txn_table as T

    cells = moment_rows(batch, key_col, x_col, y_col)
    T.fold_merge(
        spark, table_path, cells, "key", {c: f"t.{c} + s.{c}" for c in MOMENT_COLS}, fence
    )


def _derived(asset: DataFrame) -> DataFrame:
    """Per-key derived doubles from the exact integer moments — the
    shared stage under every refit below.  Expression-for-expression
    the arithmetic of queries/stats.py, so refits are bit-equal to the
    one-shot queries."""
    m = F.lit(float(_M))
    return asset.select(
        "key",
        F.col("n").cast("double").alias("nd"),
        F.col("n").cast("long").alias("n"),
        (F.col("sx").cast("double") / m).alias("sx"),
        (F.col("sxx").cast("double") / m).alias("sxx"),
        (F.col("sy").cast("double") / m).alias("sy"),
        (F.col("sxy").cast("double") / m).alias("sxy"),
        (F.col("syy").cast("double") / m).alias("syy"),
    )


def welch_from_asset(
    spark: SparkSession, table_path: str, key_a: str, key_b: str
) -> DataFrame:
    """Welch t-test between two keys, refit from the standing asset —
    zero fact rescan.  Same arithmetic as
    queries/stats.welch_event_values (bit-equal on identical data)."""
    from data_ingestion_project_spark.operators import txn_table as T

    d = _derived(T.read(spark, table_path).filter(F.col("key").isin(key_a, key_b)))
    a = d.filter(F.col("key") == key_a).select(
        F.col("n").alias("n_a"),
        F.col("nd").alias("na"),
        F.col("sx").alias("sxa"),
        F.col("sxx").alias("sxxa"),
    )
    b = d.filter(F.col("key") == key_b).select(
        F.col("n").alias("n_b"),
        F.col("nd").alias("nb"),
        F.col("sx").alias("sxb"),
        F.col("sxx").alias("sxxb"),
    )
    j = a.crossJoin(F.broadcast(b))
    m = F.lit(float(_M))
    ma = F.col("sxa") / F.col("na")
    mb = F.col("sxb") / F.col("nb")
    va = (F.col("sxxa") - F.col("sxa") * F.col("sxa") / F.col("na")) / (
        F.col("na") - F.lit(1.0)
    )
    vb = (F.col("sxxb") - F.col("sxb") * F.col("sxb") / F.col("nb")) / (
        F.col("nb") - F.lit(1.0)
    )
    se2 = va / F.col("na") + vb / F.col("nb")
    t = (ma - mb) / F.sqrt(se2)
    df = (se2 * se2) / (
        (va / F.col("na")) * (va / F.col("na")) / (F.col("na") - F.lit(1.0))
        + (vb / F.col("nb")) * (vb / F.col("nb")) / (F.col("nb") - F.lit(1.0))
    )
    return j.select(
        "n_a",
        "n_b",
        (_micro(ma).cast("double") / m).alias("mean_a"),
        (_micro(mb).cast("double") / m).alias("mean_b"),
        (_micro(va).cast("double") / m).alias("var_a"),
        (_micro(vb).cast("double") / m).alias("var_b"),
        (_micro(t).cast("double") / m).alias("t_stat"),
        (_micro(df).cast("double") / m).alias("df_welch"),
    )


def regr_from_asset(spark: SparkSession, table_path: str) -> DataFrame:
    """Per-key simple OLS refit from the standing asset — the
    regr_price_quantity arithmetic over stored moments."""
    from data_ingestion_project_spark.operators import txn_table as T

    d = _derived(T.read(spark, table_path))
    m = F.lit(float(_M))
    num = F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("nd") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / denx
    return d.select(
        "key",
        "n",
        (_micro(slope).cast("double") / m).alias("slope"),
        (_micro((F.col("sy") - slope * F.col("sx")) / F.col("nd")).cast("double") / m).alias(
            "intercept"
        ),
        (_micro(num * num / (denx * deny)).cast("double") / m).alias("r2"),
    ).orderBy("key")


def anova_from_asset(spark: SparkSession, table_path: str) -> DataFrame:
    """One-way ANOVA F refit from the standing asset — the
    anova_event_values decomposition (same centi-quantized cross-group
    fold) over stored moments; single-row output."""
    from data_ingestion_project_spark.operators import txn_table as T

    a = T.read(spark, table_path)
    m0 = F.lit(float(_M))
    sxd = F.col("sx").cast("double") / m0
    g2 = a.select(
        "n",
        "sx",
        "sxx",
        ((sxd * sxd / F.col("n").cast("double")) * F.lit(100.0))
        .cast("long")
        .alias("ssq_c"),
    )
    tot = g2.agg(
        F.sum("n").alias("n_tot"),
        F.sum("sx").alias("sx_tot_i"),
        F.sum("sxx").alias("sxx_tot_i"),
        F.sum("ssq_c").alias("ssq_c_tot"),
        F.count(F.lit(1)).alias("k_groups"),
    )
    m = F.lit(float(_M))
    sx_t = F.col("sx_tot_i").cast("double") / m
    sxx_t = F.col("sxx_tot_i").cast("double") / m
    ssq_t = F.col("ssq_c_tot").cast("double") / F.lit(100.0)
    ssb = ssq_t - sx_t * sx_t / F.col("n_tot")
    ssw = sxx_t - ssq_t
    fstat = (ssb / (F.col("k_groups") - F.lit(1))) / (
        ssw / (F.col("n_tot") - F.col("k_groups"))
    )
    return tot.select(
        (_micro(ssb).cast("double") / m).alias("ss_between"),
        (_micro(ssw).cast("double") / m).alias("ss_within"),
        (_micro(fstat).cast("double") / m).alias("f_stat"),
        (F.col("k_groups") - F.lit(1)).cast("long").alias("df_between"),
        (F.col("n_tot") - F.col("k_groups")).cast("long").alias("df_within"),
    )
