"""Crypto-shredding / right-to-be-forgotten over the txn-table layer.

The PII lifecycle operation the reference's security model implies but
never ships: the reference encrypts fields under ONE static Fernet key
(crypto_utils.py:84-88) and builds an HMAC blind index for equality
search (crypto_utils.py:103-104) — so "forget user X" would require
rewriting every data file that holds X's ciphertexts.  Envelope
encryption inverts the cost: each user gets a random data-encryption
key (DEK), field ciphertexts are produced under the user's DEK, and the
only place the DEK exists is one row of a versioned key table (wrapped
under the key-encryption key, KEK).  Forgetting a user is then

    1. MERGE-delete the user's key row (stats-pruned, touches only the
       directory holding that row), and
    2. vacuum prior key-table versions (time travel over the key table
       would otherwise resurrect the wrapped DEK), and
    3. append a tombstone (user_id, blind index, forgotten_at) so
       equality lookups suppress the ghost.

No data file is rewritten — the ciphertexts remain on disk, provably
undecryptable because the only key that ever could decrypt them no
longer exists anywhere.  That is the 100 TB posture: forget cost is
O(key-table row), not O(corpus).

Scale design:
- DEK generation runs once per NEW user (Arrow pandas UDF around
  ``secrets.token_bytes`` — key material must be cryptographically
  random, NOT derivable from the KEK, or deleting the row would not
  destroy anything).  User-dimension sized, never corpus sized.
- Bulk field encrypt/decrypt is JVM-native ``aes_encrypt``/
  ``aes_decrypt`` (GCM, random IV) with the DEK as a per-row key
  column: the only Python is the per-user DEK unwrap over the KEY
  TABLE (again user-dim sized); the fact-table crypto stays inside
  whole-stage codegen.
- Forgotten users surface as NULL DEKs after the key join ⇒ their
  decrypts are NULL by SQL null propagation — no error channel that a
  100 TB scan would have to special-case.
"""

from __future__ import annotations

import base64
import os
import secrets

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType

from cryptography.fernet import Fernet

from data_ingestion_project_spark.operators import txn_table

KEY_SCHEMA_COLS = ("user_id", "dek_wrapped", "email_bidx", "created_at")
TOMBSTONE_COLS = ("user_id", "email_bidx", "forgotten_at")


def keys_path(base_dir: str) -> str:
    return os.path.join(base_dir, "user_keys")


def tombstones_path(base_dir: str) -> str:
    return os.path.join(base_dir, "tombstones")


def make_wrap_dek_udf(kek: bytes):
    """Generate-and-wrap: random 32-byte DEK per row, Fernet-wrapped
    under the KEK.  Nondeterministic BY CONTRACT (a retried task must
    mint fresh keys, never replay a captured one)."""
    f = Fernet(kek)

    @pandas_udf(StringType())
    def _gen(user_id: pd.Series) -> pd.Series:
        return pd.Series(
            [f.encrypt(secrets.token_bytes(32)).decode() for _ in range(len(user_id))]
        )

    return _gen.asNondeterministic()


def make_unwrap_dek_udf(kek: bytes):
    """Wrapped DEK string → raw 32-byte key (BinaryType).  Runs over
    the key table only — user-dimension sized, never the fact table."""
    f = Fernet(kek)

    @pandas_udf(BinaryType())
    def _unwrap(wrapped: pd.Series) -> pd.Series:
        return wrapped.map(lambda w: None if w is None else f.decrypt(w.encode()))

    return _unwrap


def provision_deks(
    spark: SparkSession,
    base_dir: str,
    users: DataFrame,
    kek: bytes,
    *,
    created_at: str = "2024-01-01 00:00:00",
) -> int:
    """Create (or keep-first extend) the key table with one wrapped DEK
    per user.  ``users`` must carry ``user_id`` and ``email_bidx``.
    Existing rows WIN (reference io_utils.py:34 keep-first posture): a
    re-provision never rotates a key silently — rotation is an explicit
    forget + provision.  Returns the committed version."""
    rows = users.select(
        F.col("user_id").cast("long"),
        make_wrap_dek_udf(kek)(F.col("user_id")).alias("dek_wrapped"),
        F.col("email_bidx").cast("string"),
        F.lit(created_at).cast("timestamp").alias("created_at"),
    )
    return txn_table.merge_upsert(spark, keys_path(base_dir), rows, key="user_id")


def encrypt_fields(
    spark: SparkSession,
    df: DataFrame,
    base_dir: str,
    kek: bytes,
    fields: list[str],
    user_col: str = "user_id",
) -> DataFrame:
    """Replace each listed column with its AES-GCM ciphertext (base64)
    under the row's per-user DEK.  One equi-join on ``user_col``
    against the unwrapped key table; the field crypto itself is
    JVM-native.  Rows without a key row (never provisioned, or already
    forgotten) encrypt to NULL — they carry no recoverable plaintext."""
    deks = _unwrapped_keys(spark, base_dir, kek)
    j = df.join(deks, df[user_col] == deks["__key_user_id"], "left")
    out = j
    for c in fields:
        out = out.withColumn(
            c, F.base64(F.aes_encrypt(F.col(c).cast("binary"), F.col("__dek"), F.lit("GCM")))
        )
    return out.drop("__key_user_id", "__dek")


def decrypt_fields(
    spark: SparkSession,
    df: DataFrame,
    base_dir: str,
    kek: bytes,
    fields: list[str],
    user_col: str = "user_id",
) -> DataFrame:
    """Inverse of :func:`encrypt_fields`.  A forgotten user's key join
    is NULL ⇒ every decrypt is NULL: the ciphertext is still on disk
    but no key exists that can open it — that is the shred guarantee,
    surfaced as ordinary SQL NULLs."""
    deks = _unwrapped_keys(spark, base_dir, kek)
    j = df.join(deks, df[user_col] == deks["__key_user_id"], "left")
    out = j
    for c in fields:
        out = out.withColumn(
            c, F.try_aes_decrypt(F.unbase64(F.col(c)), F.col("__dek"), F.lit("GCM")).cast("string")
        )
    return out.drop("__key_user_id", "__dek")


def _unwrapped_keys(spark: SparkSession, base_dir: str, kek: bytes) -> DataFrame:
    keys = txn_table.read(spark, keys_path(base_dir))
    return keys.select(
        F.col("user_id").alias("__key_user_id"),
        make_unwrap_dek_udf(kek)(F.col("dek_wrapped")).alias("__dek"),
    )


def forget_users(
    spark: SparkSession,
    base_dir: str,
    user_ids: DataFrame,
    *,
    forgotten_at: str = "2024-06-01 00:00:00",
    checkpoint_hook=None,
) -> dict:
    """Right-to-be-forgotten for every ``user_id`` in ``user_ids``.

    - tombstone (user_id, email_bidx, forgotten_at) FIRST, so
      blind-index lookups can suppress the ghost — the bidx is
      captured from the key row, which is why the tombstone must
      commit while that row still exists: the reverse order has a
      crash window (keys deleted, tombstone pending) a replay could
      never repair, because the bidx would be gone with the key;
    - MERGE-delete the key rows (stats-pruned: untouched key-table
      directories are carried forward by manifest arithmetic alone);
    - vacuum superseded key-table versions IMMEDIATELY — prior
      snapshots hold the wrapped DEK, and crypto-shredding is only as
      strong as the oldest retrievable version.

    Replay-safe WITHOUT a fence, by construction: the tombstone
    upsert is keep-first (a replayed batch changes nothing) and a
    replayed delete finds no key rows and no-ops — so the streaming
    leg (streaming/ingest.start_forget_stream) rides at-least-once
    foreachBatch directly.  ``checkpoint_hook(step)`` is the
    crash-planting test seam (None in production).

    Returns ``{"n_forgotten", "keys_version", "tombstones_version",
    "vacuumed"}``.  Data files holding the users' ciphertexts are
    never opened, let alone rewritten."""

    def _hook(step: str) -> None:
        if checkpoint_hook is not None:
            checkpoint_hook(step)

    kpath, tpath = keys_path(base_dir), tombstones_path(base_dir)
    ids = user_ids.select(F.col("user_id").cast("long")).distinct()
    keys = txn_table.read(spark, kpath)
    doomed = (
        keys.join(F.broadcast(ids), "user_id", "semi")
        .select(
            "user_id",
            "email_bidx",
            F.lit(forgotten_at).cast("timestamp").alias("forgotten_at"),
        )
        .cache()
    )
    n = doomed.count()
    if n == 0:
        doomed.unpersist()
        return {
            "n_forgotten": 0,
            "keys_version": txn_table.current_version(kpath),
            "tombstones_version": txn_table.current_version(tpath),
            "vacuumed": [],
        }
    tv = txn_table.merge_upsert(spark, tpath, doomed, key="user_id")
    _hook("tombstones")
    res = txn_table.merge(
        spark,
        kpath,
        doomed.select("user_id"),
        key="user_id",
        when_matched="delete",
        insert_not_matched=False,
    )
    # destroy the superseded snapshots NOW: min_age 0 is deliberate —
    # the whole point is that no copy of the wrapped DEK survives
    vacuumed = txn_table.vacuum(kpath, keep_versions=1, min_age_seconds=0.0)
    doomed.unpersist()
    return {
        "n_forgotten": n,
        "keys_version": res["version"],
        "tombstones_version": tv,
        "vacuumed": vacuumed,
    }


def suppress_forgotten(spark: SparkSession, df: DataFrame, base_dir: str, user_col: str = "user_id") -> DataFrame:
    """Anti-join against the tombstones — the read-side suppression
    every downstream consumer applies so forgotten users vanish from
    query results even before their ciphertext rows age out."""
    tpath = tombstones_path(base_dir)
    if txn_table.current_version(tpath) is None:
        return df
    ghosts = txn_table.read(spark, tpath).select(F.col("user_id"))
    return df.join(F.broadcast(ghosts), df[user_col] == ghosts["user_id"], "anti")


def test_kek() -> bytes:
    """Deterministic KEK for tests/fixtures (a real deployment loads
    it from a KMS; CryptoKeys.from_env is the configuration seam)."""
    return base64.urlsafe_b64encode(b"\x07" * 32)
