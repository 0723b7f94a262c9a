"""Scale utilities: skew-salted joins and bucketed table layout.

These are the two knobs that matter most when a query that works at
sf0.1 meets 100 TB:

- **Salting** defeats hot-key skew in shuffles that AQE can't split
  (aggregations, and joins where one key holds >> the per-task budget).
  The hot side gets a random salt in [0, n); the other side explodes
  each row across all n salts; the join key becomes (key, salt).
  Work for the hot key now spreads over n tasks.

- **Bucketing** pre-shuffles a table ONCE at write time. Two tables
  bucketed by the same key into the same bucket count join with zero
  exchanges forever after — the right layout for fact tables joined
  every day on the same key (orders ⋈ lineitem on orderkey).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (big, skewed) left side,
    replicate the right side across salts.

    Replication multiplies the right side by ``n_salts`` — use only
    when the right side is modest and the left has hot keys. Columns
    of both inputs are preserved (internal salt columns dropped).

    Only inner/left/left_semi are supported: an unmatched RIGHT row
    exists once per salt replica, so right/full/anti joins would emit
    it ``n_salts`` times — rejected rather than silently wrong.
    """
    if how not in ("inner", "left", "left_outer", "left_semi"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi, not {how!r}: "
            "right-side replication would duplicate unmatched right rows"
        )
    salted_left = left.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
    salt_values = F.array(*[F.lit(i) for i in range(n_salts)])
    replicated_right = right.withColumn("__salt", F.explode(salt_values))
    out = salted_left.join(replicated_right, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def salted_count_by_key(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Two-phase aggregation for skewed group-by keys: partial count per
    (key, salt), then final sum per key. The first shuffle spreads a hot
    key over ``n_salts`` reducers. (Spark's partial aggregation already
    does this map-side; explicit salting helps when the map-side hash
    table overflows on high-cardinality-within-partition data.)"""
    return (
        df.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
        .groupBy(key)
        .agg(F.sum("__partial").alias("n"))
    )


def salted_sum_by_key(
    df: DataFrame, key: str, value_col: str, n_salts: int = 16, scale: int = 2
) -> DataFrame:
    """Two-phase SUM+COUNT for skewed group-by keys: partial aggregate
    per (key, salt), final combine per key. Accumulation follows the
    queries/_precision.py convention — per-row micro-unit quantization
    into an exact integer-decimal partial — which is what makes the
    salted two-stage sum EXACTLY equal to the single-stage
    ``dec_sum`` (integer addition is associative, so re-associating
    across salts cannot change the result; a double sum would drift).
    Same bounds as _precision: |value| < ~9.2e12 so the micro-unit
    long never overflows — money-grade columns, not raw physics
    doubles. Returns (key, n, sum_value)."""
    from data_ingestion_project_spark.queries._precision import (
        dec_sum_final,
        dec_sum_partial,
    )

    return (
        df.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
        .groupBy(key, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            dec_sum_partial(F.col(value_col)).alias("__partial"),
        )
        .groupBy(key)
        .agg(
            F.sum("__n").alias("n"),
            dec_sum_final(F.sum("__partial"), scale).alias("sum_value"),
        )
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    n_buckets: int = 32,
    sort_key: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Joins/aggregations on ``bucket_key`` between tables bucketed with
    the same ``n_buckets`` skip the exchange entirely (verify with
    plans.plan_census: n_exchanges == 0)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort_key:
        writer = writer.sortBy(sort_key)
    writer.saveAsTable(table_name)
