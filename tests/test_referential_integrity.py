"""referential_integrity_audit assumes unique parent pks; a duplicated
one must fail the query instead of returning inflated counts."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_ingestion_project_spark.queries.tpch2 import referential_integrity_audit

SF = "/root/testdata/sf0.001"
TABLES = ("lineitem", "orders", "customer", "supplier", "nation", "region", "part")


def test_duplicate_parent_pk_fails_loudly(spark, tmp_path):
    for t in TABLES:
        shutil.copy(f"{SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    clean = referential_integrity_audit(spark, str(tmp_path)).collect()
    assert len(clean) == 7

    supplier = pq.read_table(f"{SF}/supplier.parquet")
    pq.write_table(pa.concat_tables([supplier, supplier.slice(0, 1)]), tmp_path / "supplier.parquet")
    with pytest.raises(Exception, match=r"DUPLICATE_PARENT_PK: supplier\.s_suppkey"):
        referential_integrity_audit(spark, str(tmp_path)).collect()
