"""Data sources: parquet/csv/json table readers + the users JSON source."""

from data_ingestion_project_spark.sources.readers import (  # noqa: F401
    TABLES,
    register_views,
    table,
)
