"""Table readers for the engine's analytic tables.

The reference reads its one persistent table with inference
(``pd.read_csv``, ingestion/io_utils.py:23-24 in /root/reference); here
every read is a parquet scan whose schema travels with the file, and CSV
reads (parity path) always take an explicit schema with ``FAILFAST`` —
reproducing the reference's fail-fast posture (api_client.py:22) without
its inference hazards (SURVEY.md §1.2).

Scale notes: parquet scans are the engine's only large-input path.
Column pruning and predicate pushdown reach the scan automatically as
long as callers express projections/filters on the returned DataFrame
(verify with ``plans.scan_info``). At 100 TB the tables would be
partitioned (e.g. orders/lineitem by month) — partition pruning then
composes with the same code unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one analytic table from ``sf_dir`` (parquet).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark has
    no native type for; with ``spark.sql.legacy.parquet.nanosAsLong``
    (set in session.py) it scans as a long, converted here to a
    microsecond timestamp (lossless: the data is micro-precision; the
    integer ``div`` keeps the arithmetic exact — a double division would
    corrupt epochs > 2^53 ns).
    """
    if name == "events":
        # set here (runtime-settable SQL conf), not only in the session
        # factory: queries must work on ANY caller-provided session,
        # including the driver's plain one
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # NTZ epoch arithmetic, NOT timestamp_micros: the latter yields
        # TIMESTAMP_LTZ whose bucketing/rendering depends on the session
        # timezone; this form is timezone-independent and matches how
        # DuckDB (and the oracle) read the same column, without mutating
        # the caller session's timezone conf
        df = df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for ``spark.sql`` use."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv_strict(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """CSV read with explicit schema + FAILFAST (no inference, ever)."""
    return (
        spark.read.option("header", True)
        .option("mode", "FAILFAST")
        .schema(schema)
        .csv(path)
    )
