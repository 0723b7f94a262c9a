"""Multi-format table writes: parquet (native), ORC, JSON-lines, CSV.

One function so every format follows the same rules: writes are plain
distributed writes (no driver funnel), and CSV carries a header. A
schema-on-read format (json/csv) is read back with an explicit schema
— inference is never on a production path (SURVEY.md §1.2).

Format guidance at scale: parquet/ORC are the only sane table formats
(columnar, pushdown, pruning); JSON/CSV exist as interchange for the
ingestion edges. A JSON scan reads and parses every byte of every
column — the formats table in PLANS.md shows pushdown only for the
columnar pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

COLUMNAR_FORMATS = ("parquet", "orc")
TEXT_FORMATS = ("json", "csv")


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    if fmt not in COLUMNAR_FORMATS + TEXT_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    writer = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    writer.save(path)
