"""The benchmark's own tests: input determinism, the tail rule, the
output checks against planted faults, the bare-directory refusal and a
one-second smoke run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import env  # noqa: E402

env.configure_process()

import checks  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402
import users  # noqa: E402
from spans import Tracer  # noqa: E402

from data_ingestion_project_spark.functions.crypto import (  # noqa: E402
    blind_index,
    encrypt_str,
    hash_password,
)
from data_ingestion_project_spark.schemas import SECURE_COLUMNS  # noqa: E402

with open(os.path.join(env.ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


# ------------------------------------------------------------ generators


def test_same_seed_same_payload_and_other_seed_differs():
    a = users.BatchSource(7, 0.5, [users.make_user("t", i) for i in range(50)])
    b = users.BatchSource(7, 0.5, [users.make_user("t", i) for i in range(50)])
    c = users.BatchSource(8, 0.5, [users.make_user("t", i) for i in range(50)])
    first = [a.batch(10), a.batch(10)]
    assert first == [b.batch(10), b.batch(10)]
    assert first != [c.batch(10), c.batch(10)]
    assert users.crypto_keys(3) == users.crypto_keys(3) != users.crypto_keys(4)


def test_batches_keep_the_api_quirks_and_resend_share():
    src = users.BatchSource(1, 0.5, [users.make_user("t", i) for i in range(100)])
    payload, fresh = src.batch(10)
    assert len(payload) == 10 and len(fresh) == 5
    assert len({u["login"]["uuid"] for u in payload}) == 10
    many = [users.make_user("q", i) for i in range(200)]
    assert {type(u["location"]["postcode"]) for u in many} == {int, str}
    assert any(u["email"] != u["email"].strip() for u in many)
    assert any(u["email"].strip() != u["email"].strip().lower() for u in many)


def test_tables_are_deterministic_and_match_the_reader_schema():
    a, b = tables.build_tables(0.001, seed=5), tables.build_tables(0.001, seed=5)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(tables.build_tables(0.001, seed=6)["lineitem"])
    from data_ingestion_project_spark.sources.readers import TABLES

    assert set(a) == set(TABLES)
    assert a["orders"].num_rows == 1500 and a["nation"].num_rows == 25


# ------------------------------------------------------------ statistics


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert stats.tail([1.0] * 19) is None
    assert stats.tail([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    pct, value = stats.tail([float(i) for i in range(1, 101)])
    assert (pct, value) == (90.0, 90.0)
    assert sum(v > value for v in range(1, 101)) == 10


def test_op_latency_is_the_mean_of_per_query_medians():
    import run
    from workloads import Op, Result

    ops = [Op(t, True, kind="a") for t in (1.0, 9.0, 2.0)] + [Op(t, True, kind="b") for t in (4.0, 6.0, 5.0)]
    ops.append(Op(50.0, False, kind="b"))  # a failed operation carries no latency
    metrics = run.end_to_end(Result(0.0, 0.0, ops, []), setup_s=3.0)
    assert metrics == {"setup_s": 3.0, "op_latency_s": (2.0 + 5.0) / 2}


def test_span_self_time_subtracts_children():
    tr = Tracer("t")
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    self_s = tr.self_times()
    assert self_s["inner"] == pytest.approx(inner.duration)
    assert self_s["outer"] == pytest.approx(outer.duration - inner.duration)
    assert tr.spans[1].parent == 0


# --------------------------------------------------------- output checks


def _secure_table(people, keys):
    rows = [
        (
            u["login"]["uuid"], u["name"]["first"], u["name"]["last"], u["dob"]["date"], u["dob"]["age"],
            u["location"]["country"], u["login"]["username"], hash_password(u["login"]["password"], keys),
            encrypt_str(u["email"], keys), encrypt_str(u["phone"], keys),
            encrypt_str(u["location"]["street"]["name"], keys), blind_index(u["email"], keys),
        )
        for u in people
    ]
    return pd.DataFrame(rows, columns=list(SECURE_COLUMNS))


# the first 40 users are the table's seed rows, the last 4 this run's inserts
SEEDED, INSERTED = 40, 4


@pytest.fixture()
def ingested():
    keys = users.crypto_keys(0)
    people = [users.make_user("check", i) for i in range(SEEDED + INSERTED)]
    expected = {u["login"]["uuid"]: u for u in people}
    resent = {people[0]["login"]["uuid"], people[1]["login"]["uuid"]}
    return _secure_table(people, keys), expected, resent, keys


def _problems(table, expected, resent, keys):
    inserted = set(list(expected)[SEEDED:])
    return checks.table_problems(table, expected, resent, inserted, keys, random.Random(0))


def test_table_check_passes_a_correct_table(ingested):
    assert _problems(*ingested) == []


def test_table_check_catches_a_resent_key_overwriting_its_row(ingested):
    table, expected, resent, keys = ingested
    table.loc[table["login.uuid"] == sorted(resent)[0], "name.first"] = "RESENT"
    assert any("overwrote" in p for p in _problems(table, expected, resent, keys))


def test_table_check_catches_missing_rows_and_plaintext(ingested):
    table, expected, resent, keys = ingested
    assert any("rows, expected" in p for p in _problems(table.iloc[1:], expected, resent, keys))
    leaky = table.assign(email=[u["email"] for u in expected.values()])
    assert any("plaintext" in p for p in _problems(leaky, expected, resent, keys))
    stored = table.copy()
    stored["email_enc"] = [u["email"] for u in expected.values()]
    assert any("plaintext" in p or "decrypt" in p for p in _problems(stored, expected, resent, keys))


def test_table_check_catches_bad_crypto(ingested):
    table, expected, resent, keys = ingested
    table["email_bidx"] = table["email_bidx"].str[::-1]
    assert any("email_bidx" in p for p in _problems(table, expected, resent, keys))


def test_table_check_catches_bad_ciphertext_on_one_inserted_row(ingested):
    table, expected, resent, keys = ingested
    assert SEEDED > checks.UNTOUCHED_SAMPLE  # the seed rows alone are only sampled
    last = list(expected)[-1]
    wrong = encrypt_str("someone-else@example.com", keys)
    table.loc[table["login.uuid"] == last, "email_enc"] = wrong
    assert _problems(table, expected, resent, keys) == [f"{last}: email_enc does not decrypt to the input"]


def test_table_check_catches_a_resent_row_with_a_replaced_secret(ingested):
    table, expected, resent, keys = ingested
    key = sorted(resent)[0]
    table.loc[table["login.uuid"] == key, "password_hash"] = hash_password("resent-password", keys)
    assert any(p == f"{key}: password hash does not verify" for p in _problems(table, expected, resent, keys))


def test_query_check_catches_one_wrong_value():
    oracle = pd.DataFrame({"k": ["a", "b"], "v": [1.5, 2.0]})
    assert checks.result_problem(["v", "k"], [(2.0, "b"), (1.5, "a")], oracle) is None
    assert "values differ in 1" in checks.result_problem(["v", "k"], [(2.0, "b"), (1.6, "a")], oracle)
    assert "rows" in checks.result_problem(["v", "k"], [(2.0, "b")], oracle)


# --------------------------------------------------------------- command


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(env.ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


@pytest.mark.parametrize("workload", ["ingest_cron", "query_mix", "ingest_backfill"])
def test_smoke_run_prints_every_metric(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=env.ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_cron_run_holds_the_layers_against_the_program():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ingest_cron", "--seed", "3", "--seconds", "4", "--trace", "1"],
        cwd=env.ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "TRACE MISMATCH" not in proc.stdout
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    # half of every batch re-sends existing keys, and the program's crypto
    # UDFs see every row of the batch
    assert metrics["transforms.hashed_per_inserted"] == 2.0
    assert metrics["trace.extra_jobs"] == 2 and metrics["job.jobs"] > 0
