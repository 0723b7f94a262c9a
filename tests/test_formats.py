"""Round-trip every supported format with the secure users table."""

from __future__ import annotations

import pytest

from data_ingestion_project_spark.operators.transforms import transform_users
from data_ingestion_project_spark.schemas import SECURE_USER_SCHEMA
from data_ingestion_project_spark.sources.formats import write_table
from data_ingestion_project_spark.sources.users_json import users_from_json


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_secure_table_roundtrip(spark, keys, tmp_path, batch1, fmt):
    out = transform_users(users_from_json(spark, batch1), keys)
    path = str(tmp_path / f"users_{fmt}")
    write_table(out, path, fmt=fmt)
    # csv needs the header option; the other formats ignore it
    back = spark.read.format(fmt).schema(SECURE_USER_SCHEMA).option("header", True).load(path)
    assert back.count() == 10
    orig = {r["login.uuid"]: r["email_bidx"] for r in out.collect()}
    got = {r["login.uuid"]: r["email_bidx"] for r in back.collect()}
    assert got == orig  # deterministic column survives every format


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unsupported format"):
        write_table(spark.range(1), "/tmp/x", fmt="avro")
