"""Output checks: the benchmark counts a run only if the program's
outputs are right.

Ingestion: the published table holds exactly the seed rows plus the
distinct new keys, every re-sent key kept its existing row, no
plaintext secret column exists, and every row the run inserted or
re-sent, plus a few of the rows the table started with, verifies
against its original payload (password hash, Fernet round trip, blind
index).

Queries: every result equals its DuckDB oracle on the same parquet
files, compared order-insensitively after rendering values as strings.
"""

from __future__ import annotations

import os
import random
from typing import Any

import pandas as pd
from cryptography.fernet import InvalidToken

from data_ingestion_project_spark.functions.crypto import (
    CryptoKeys,
    blind_index,
    decrypt_str,
    verify_password,
)
from data_ingestion_project_spark.schemas import SECURE_COLUMNS

# payload fields that must never reach the table in plaintext
PLAINTEXT = ("login.password", "password", "email", "phone", "location.street.name", "street")
# rows the run wrote or re-sent are all checked up to this many (a cron
# run touches about 250); rows the table started with are sampled
TOUCHED_MAX = 500
UNTOUCHED_SAMPLE = 8


def table_problems(
    table: pd.DataFrame,
    expected: dict[str, dict[str, Any]],
    resent_keys: set[str],
    inserted_keys: set[str],
    keys: CryptoKeys,
    rng: random.Random,
) -> list[str]:
    """Problems with a published users table, given ``expected``: the
    original payload of every key the table must hold, by key.
    ``inserted_keys`` and ``resent_keys`` are the keys this run inserted
    and re-sent; each of their rows must match the original payload in
    every checked column, secrets included."""
    problems = []
    leaked = [c for c in table.columns if c in PLAINTEXT]
    if leaked:
        problems.append(f"plaintext columns {leaked}")
    if tuple(table.columns) != SECURE_COLUMNS:
        problems.append(f"columns {list(table.columns)} != {list(SECURE_COLUMNS)}")
        return problems
    if len(table) != len(expected):
        problems.append(f"{len(table)} rows, expected {len(expected)}")
    keyed = table.drop_duplicates("login.uuid").set_index("login.uuid", drop=False)
    if len(keyed) != len(table):
        problems.append(f"{len(table) - len(keyed)} duplicate keys")
    missing = expected.keys() - set(keyed.index)
    if missing:
        problems.append(f"{len(missing)} expected keys missing")
    resent = keyed.loc[sorted(resent_keys & set(keyed.index))]
    overwritten = resent[resent["name.first"] != resent["login.uuid"].map(lambda k: expected[k]["name"]["first"])]
    if len(overwritten):
        problems.append(f"{len(overwritten)} re-sent keys overwrote their existing row")
    present = expected.keys() & set(keyed.index)
    touched = sorted((inserted_keys | resent_keys) & present)
    untouched = sorted(present - set(touched))
    sample = rng.sample(touched, min(TOUCHED_MAX, len(touched)))
    sample += rng.sample(untouched, min(UNTOUCHED_SAMPLE, len(untouched)))
    for key in sample:
        problems += row_problems(keyed.loc[key], expected[key], keys)
    return problems


def row_problems(row: pd.Series, user: dict[str, Any], keys: CryptoKeys) -> list[str]:
    key = user["login"]["uuid"]
    out = []
    plain = {
        "name.first": user["name"]["first"],
        "name.last": user["name"]["last"],
        "location.country": user["location"]["country"],
        "login.username": user["login"]["username"],
    }
    for col, want in plain.items():
        if row[col] != want:
            out.append(f"{key}: {col}={row[col]!r}, expected {want!r}")
    secrets = {user["login"]["password"], user["email"], user["phone"], user["location"]["street"]["name"]}
    if secrets & {str(v) for v in row.values}:
        out.append(f"{key}: a secret is stored in plaintext")
    if not verify_password(row["password_hash"], user["login"]["password"], keys):
        out.append(f"{key}: password hash does not verify")
    for col, want in (
        ("email_enc", user["email"]),
        ("phone_enc", user["phone"]),
        ("street_name_enc", user["location"]["street"]["name"]),
    ):
        try:
            decrypted = decrypt_str(row[col], keys)
        except InvalidToken:
            decrypted = None
        if decrypted != want:
            out.append(f"{key}: {col} does not decrypt to the input")
    if row["email_bidx"] != blind_index(user["email"], keys):
        out.append(f"{key}: email_bidx does not match")
    return out


def duck_connection(data_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def result_problem(columns: list[str], rows: list[tuple], oracle: pd.DataFrame) -> str | None:
    """Why a query result differs from its oracle, or ``None``."""
    got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    if len(got) != len(oracle):
        return f"{len(got)} rows, oracle has {len(oracle)}"
    if sorted(got.columns) != sorted(oracle.columns):
        return f"columns {sorted(got.columns)} != {sorted(oracle.columns)}"
    a, b = normalize(got), normalize(oracle)
    if not a.equals(b):
        return f"values differ in {int((a != b).any(axis=1).sum())} of {len(a)} rows"
    return None
