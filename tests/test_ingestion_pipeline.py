"""Golden-contract tests for the secure ingestion pipeline
(SURVEY.md §5 strategy: semantic crypto checks + upsert properties +
metrics-dict contract)."""

from __future__ import annotations

import pytest

from data_ingestion_project_spark.functions.crypto import (
    blind_index,
    decrypt_str,
    verify_password,
)
from data_ingestion_project_spark.job import run_ingestion_job
from data_ingestion_project_spark.operators.transforms import transform_users
from data_ingestion_project_spark.schemas import SECURE_COLUMNS
from data_ingestion_project_spark.sources.users_json import users_from_json


def test_raw_schema_pins_postcode_to_string(spark, batch1):
    df = users_from_json(spark, batch1)
    assert df.schema["location"].dataType["postcode"].dataType.simpleString() == "string"
    assert df.count() == 10


def test_transform_output_columns_exact(spark, keys, batch1):
    out = transform_users(users_from_json(spark, batch1), keys)
    assert tuple(out.columns) == SECURE_COLUMNS


def test_no_plaintext_secret_reaches_output(spark, keys, batch1):
    """The §1.4 invariant: password/email/phone/street plaintext absent."""
    out = transform_users(users_from_json(spark, batch1), keys)
    rows = out.collect()
    plaintexts = {f"pw-{i}" for i in range(10)}
    plaintexts |= {u["email"].strip() for u in batch1}
    plaintexts |= {u["phone"] for u in batch1}
    plaintexts |= {u["location"]["street"]["name"] for u in batch1}
    for row in rows:
        for v in row.asDict().values():
            assert v not in plaintexts


def test_crypto_columns_verify_semantically(spark, keys, batch1):
    """Salted/IV'd outputs can't be byte-compared (FIXTURES.md §2) —
    verify hash, decrypt ciphertexts, byte-compare only the bidx."""
    out = transform_users(users_from_json(spark, batch1), keys)
    by_uuid = {r["login.uuid"]: r for r in out.collect()}
    for i, u in enumerate(batch1):
        row = by_uuid[u["login"]["uuid"]]
        assert verify_password(row["password_hash"], f"pw-{i}", keys)
        assert decrypt_str(row["email_enc"], keys) == u["email"]
        assert decrypt_str(row["phone_enc"], keys) == u["phone"]
        assert decrypt_str(row["street_name_enc"], keys) == u["location"]["street"]["name"]
        assert row["email_bidx"] == blind_index(u["email"], keys)
        assert len(row["email_bidx"]) == 64  # hex sha256


def test_blind_index_email_normalization(spark, keys, batch1):
    """Mixed-case/whitespace emails normalize to the same digest (E1)."""
    out = transform_users(users_from_json(spark, batch1), keys)
    row = {r["login.uuid"]: r for r in out.collect()}["uuid-0001"]
    # batch1 uses "  User1@Example.COM " for odd ids
    assert row["email_bidx"] == blind_index("user1@example.com", keys)


def test_upsert_idempotent_and_existing_wins(spark, keys, tmp_path, batch1, batch2_mutated, batch3_half_new):
    """README.md:11-12 + io_utils.py:34 semantics: rerunning a batch
    changes nothing; re-ingested uuids keep the OLD row; counts follow
    rows_after = rows_before + |new uuids|."""
    path = str(tmp_path / "users.parquet")

    m1 = run_ingestion_job(spark, keys, path, users=batch1)
    assert (m1["rows_fetched"], m1["rows_after_dedup"]) == (10, 10)

    m2 = run_ingestion_job(spark, keys, path, users=batch2_mutated)
    assert (m2["rows_fetched"], m2["rows_after_dedup"]) == (10, 10)
    tbl = spark.read.parquet(path)
    firsts = {r["name.first"] for r in tbl.collect()}
    assert "MUTATED" not in firsts  # existing wins

    m3 = run_ingestion_job(spark, keys, path, users=batch3_half_new)
    assert (m3["rows_fetched"], m3["rows_after_dedup"]) == (10, 15)
    tbl = spark.read.parquet(path)
    lasts = {r["name.last"] for r in tbl.collect()}
    assert "CHANGED" not in lasts  # batch1 versions retained


def _table_files(path) -> dict[str, tuple[int, bytes]]:
    """Every file in a table directory: name -> (inode, bytes)."""
    import os

    out = {}
    for name in os.listdir(path):
        full = os.path.join(path, name)
        with open(full, "rb") as f:
            out[name] = (os.stat(full).st_ino, f.read())
    return out


def _tmp_siblings(path) -> list[str]:
    import os

    parent, base = os.path.split(path)
    return [n for n in os.listdir(parent) if n.startswith(f"{base}__")]


def test_half_resent_batch_appends_one_file(spark, keys, tmp_path, batch1, batch3_half_new):
    """Keep-first never changes an existing row, so a batch publishes
    only its new rows: one new parquet file, and every file already in
    the table keeps its inode and its bytes."""
    path = str(tmp_path / "users.parquet")
    run_ingestion_job(spark, keys, path, users=batch1)
    before = _table_files(path)

    m = run_ingestion_job(spark, keys, path, users=batch3_half_new)
    after = _table_files(path)

    assert m["rows_after_dedup"] == 15
    assert {n: after[n] for n in before} == before
    added = set(after) - set(before)
    assert len(added) == 1 and added.pop().endswith(".parquet")
    assert spark.read.parquet(path).count() == 15
    assert _tmp_siblings(path) == []


def test_all_resent_batch_publishes_nothing(spark, keys, tmp_path, batch1, batch2_mutated):
    path = str(tmp_path / "users.parquet")
    run_ingestion_job(spark, keys, path, users=batch1)
    before = _table_files(path)

    m = run_ingestion_job(spark, keys, path, users=batch2_mutated)

    assert m["rows_after_dedup"] == 10
    assert _table_files(path) == before
    assert _tmp_siblings(path) == []


def test_resent_row_missing_required_field_still_fails(spark, keys, tmp_path, batch1, batch3_half_new):
    """The required-field gate runs on the whole batch, before the
    anti-join drops re-sent keys: a malformed re-sent row fails the run,
    nothing is published and no temp directory is left behind."""
    path = str(tmp_path / "users.parquet")
    run_ingestion_job(spark, keys, path, users=batch1)
    before = _table_files(path)
    batch3_half_new[0]["email"] = None  # batch3_half_new[0] re-sends uuid-0000

    with pytest.raises(Exception, match="missing required field: email"):
        run_ingestion_job(spark, keys, path, users=batch3_half_new)

    assert _table_files(path) == before
    assert _tmp_siblings(path) == []


def test_batch_with_other_schema_is_refused(spark, keys, tmp_path, batch1, batch3_half_new):
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.upsert import upsert_parquet_table

    path = str(tmp_path / "users.parquet")
    run_ingestion_job(spark, keys, path, users=batch1)
    before = _table_files(path)
    secure = transform_users(users_from_json(spark, batch3_half_new), keys)

    with pytest.raises(ValueError, match="differs from the schema"):
        upsert_parquet_table(spark, secure.withColumn("dob.age", F.col("`dob.age`").cast("long")), path, "login.uuid")
    with pytest.raises(ValueError, match="differs from the schema"):
        upsert_parquet_table(spark, secure.drop("email_bidx"), path, "login.uuid")

    assert _table_files(path) == before
    assert _tmp_siblings(path) == []


def test_failed_swap_write_leaves_no_temp_dir(spark, tmp_path):
    """A write that fails inside atomic_dir_swap (here: raise_error in
    the written frame) keeps the old table and removes its temp dir."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.upsert import atomic_dir_swap

    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    bad = spark.range(5).select(F.when(F.col("id") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("id"))

    with pytest.raises(Exception, match="boom"):
        atomic_dir_swap(path, bad.write.parquet)

    assert spark.read.parquet(path).count() == 5
    assert _tmp_siblings(path) == []


def test_table_stranded_by_a_cut_swap_is_restored(spark, keys, tmp_path, batch1, batch3_half_new):
    """A crash between atomic_dir_swap's two renames leaves the table
    only at its ``__old_`` sibling. The next batch restores it and
    appends to it, instead of publishing a table of that batch alone."""
    import os

    path = str(tmp_path / "users.parquet")
    run_ingestion_job(spark, keys, path, users=batch1)
    os.rename(path, f"{path}__old_0123abcd")  # the swap's first rename, then the crash

    m = run_ingestion_job(spark, keys, path, users=batch3_half_new)

    rows = spark.read.parquet(path).collect()
    assert m["rows_after_dedup"] == len(rows) == 15
    assert {r["login.uuid"] for r in rows} == {u["login"]["uuid"] for u in batch1 + batch3_half_new}
    assert "CHANGED" not in {r["name.last"] for r in rows}  # the seed rows won
    assert _tmp_siblings(path) == []


def test_metrics_dict_contract(spark, keys, tmp_path, batch1):
    """Exact metrics keys of job.py:73-79 (reference)."""
    m = run_ingestion_job(spark, keys, str(tmp_path / "t.parquet"), users=batch1)
    assert set(m) == {"http_status", "retries_used", "rows_fetched", "rows_after_dedup", "csv_path"}
    assert m["http_status"] is None  # fixture-driven run: no HTTP


def test_csv_parity_export_roundtrip(spark, keys, tmp_path, batch1):
    """Write with the parity sink, read back with the strict (explicit
    schema + FAILFAST) reader — S2/K1 of SURVEY §2 end to end."""
    from data_ingestion_project_spark.operators.upsert import write_csv_parity
    from data_ingestion_project_spark.schemas import SECURE_USER_SCHEMA
    from data_ingestion_project_spark.sources.readers import read_csv_strict

    out = transform_users(users_from_json(spark, batch1), keys)
    csv = tmp_path / "random_users.csv"
    write_csv_parity(out, str(csv), SECURE_COLUMNS)
    back = read_csv_strict(spark, str(csv), SECURE_USER_SCHEMA)
    assert tuple(back.columns) == SECURE_COLUMNS
    assert back.count() == 10
    assert back.schema["dob.age"].dataType.simpleString() == "int"


def test_api_handlers_without_fastapi():
    import api_server

    assert api_server.health() == {"status": "ok"}
    assert api_server.run_job_background() == {"status": "queued"}


def test_native_aes_gcm_roundtrip(spark):
    """JVM-native AES-GCM path (scale alternative to the Fernet UDF):
    round-trips, and separate executions produce distinct ciphertexts
    (random IV)."""
    from data_ingestion_project_spark.functions.crypto import (
        aes_decrypt_native,
        aes_encrypt_native,
    )

    key = b"0123456789abcdef"
    df = spark.createDataFrame([("s1",), ("s2",)], "v string")
    back = df.select(aes_decrypt_native(aes_encrypt_native("v", key), key).alias("b")).collect()
    assert sorted(r["b"] for r in back) == ["s1", "s2"]
    a = df.limit(1).select(aes_encrypt_native("v", key).alias("c")).first()["c"]
    b = df.limit(1).select(aes_encrypt_native("v", key).alias("c")).first()["c"]
    assert a != b  # fresh IV per execution


def test_analytics_cli_list_run_explain(spark, capsys):
    """The analytics CLI surfaces the full inventory and runs a query
    end-to-end in each output format; unknown names exit 2."""
    from data_ingestion_project_spark.analytics_cli import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "pricing_summary\toracle" in out
    assert "knn_lsh_approx\trows-only" in out

    assert main(["run", "lang_stats", "--sf-dir", "/root/testdata/sf0.001",
                 "--format", "json"]) == 0
    out = capsys.readouterr().out
    assert '"lang"' in out and out.strip()

    assert main(["run", "lang_stats", "--sf-dir", "/root/testdata/sf0.001",
                 "--format", "csv", "--limit", "2"]) == 0
    out = capsys.readouterr().out
    assert out.splitlines()[0].startswith("lang,")
    assert len(out.strip().splitlines()) <= 3  # header + limited rows

    assert main(["explain", "lang_stats", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    assert "Physical Plan" in capsys.readouterr().out

    assert main(["run", "no_such_query"]) == 2


def test_analytics_cli_catalog_and_output(spark, capsys, tmp_path):
    """catalog summarizes every input table; run --output writes the
    full result as parquet and refuses to clobber."""
    from data_ingestion_project_spark.analytics_cli import main

    assert main(["catalog", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    lines = out.strip().splitlines()
    assert lines[0] == "table\tn_rows\tn_cols\tbytes"
    assert len(lines) == 11  # header + 10 tables
    assert any(line.startswith("lineitem\t") for line in lines)

    dest = str(tmp_path / "res.parquet")
    assert main(["run", "lang_stats", "--sf-dir", "/root/testdata/sf0.001",
                 "--output", dest]) == 0
    assert spark.read.parquet(dest).count() > 0
    assert main(["run", "lang_stats", "--sf-dir", "/root/testdata/sf0.001",
                 "--output", dest]) == 1  # errorifexists surfaces as exit 1


def test_api_analytics_handlers_without_fastapi(spark):
    """The analytics endpoints work as plain handlers (framework
    optional, same posture as the ingestion routes): inventory lists
    oracle flags, run returns bounded JSON rows, unknown names map to
    a 404 payload instead of raising."""
    import api_server

    api_server._spark = spark  # reuse the test session
    inv = api_server.list_queries()
    names = {q["name"]: q["oracle"] for q in inv["queries"]}
    assert names["pricing_summary"] is True
    assert names["knn_lsh_approx"] is False

    res = api_server.run_query("lang_stats", sf_dir="/root/testdata/sf0.001", limit=3)
    assert res["name"] == "lang_stats" and 0 < res["n_rows"] <= 3
    assert "lang" in res["columns"]
    assert all(isinstance(r, dict) for r in res["rows"])

    missing = api_server.run_query("nope")
    assert missing["status"] == 404 and "unknown query" in missing["error"]


def test_api_run_query_confines_sf_dir(spark, tmp_path):
    """The HTTP-supplied data directory must stay inside
    ANALYTICS_DATA_ROOT — anything else is a 403 payload, never a
    read."""
    import api_server

    api_server._spark = spark
    out = api_server.run_query("lang_stats", sf_dir=str(tmp_path))
    assert out["status"] == 403 and "sf_dir outside" in out["error"]
    ok = api_server.run_query("lang_stats", sf_dir="/root/testdata/sf0.001", limit=2)
    assert ok.get("status") is None and ok["n_rows"] > 0
