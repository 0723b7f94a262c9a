"""Crypto-shredding / right-to-be-forgotten (operators/crypto_shred).

The shred guarantee under test: after ``forget_users`` the ciphertext
bytes on disk are UNCHANGED (no data rewrite) yet provably
undecryptable — the key row is gone, prior key-table versions are
vacuumed, and even re-provisioning the same user mints a fresh DEK
that cannot open old ciphertexts (AES-GCM authentication)."""

from __future__ import annotations

import glob
import hashlib
import os

from pyspark.sql import functions as F

from data_ingestion_project_spark.operators import crypto_shred as cs
from data_ingestion_project_spark.operators import txn_table


def _users(spark, n=20):
    return spark.range(1, n + 1).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("bidx_"), F.col("id")).alias("email_bidx"),
        F.concat(F.lit("secret-payload-"), F.col("id")).alias("phone"),
    )


def _dir_hash(path: str) -> dict[str, str]:
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            out[f] = hashlib.sha256(open(f, "rb").read()).hexdigest()
    return out


def test_roundtrip_and_forget_shreds_without_rewrite(spark, tmp_path):
    base = str(tmp_path / "shred")
    kek = cs.test_kek()
    users = _users(spark)
    cs.provision_deks(spark, base, users, kek)

    enc = cs.encrypt_fields(spark, users, base, kek, ["phone"])
    data_path = str(tmp_path / "encrypted.parquet")
    enc.write.parquet(data_path)
    enc_disk = spark.read.parquet(data_path)

    # roundtrip before forget: every row decrypts to its plaintext
    dec = cs.decrypt_fields(spark, enc_disk, base, kek, ["phone"])
    got = {r["user_id"]: r["phone"] for r in dec.collect()}
    assert got == {i: f"secret-payload-{i}" for i in range(1, 21)}

    before = _dir_hash(data_path)
    res = cs.forget_users(spark, base, spark.createDataFrame([(7,), (13,)], ["user_id"]))
    assert res["n_forgotten"] == 2
    assert res["vacuumed"], "prior key-table versions must be destroyed"

    # 1) ciphertext files untouched, byte-for-byte
    assert _dir_hash(data_path) == before

    # 2) decrypt-after-forget is NULL for the ghosts, intact for others
    dec2 = {r["user_id"]: r["phone"] for r in
            cs.decrypt_fields(spark, enc_disk, base, kek, ["phone"]).collect()}
    assert dec2[7] is None and dec2[13] is None
    assert dec2[1] == "secret-payload-1" and dec2[20] == "secret-payload-20"

    # 3) no resurrectable snapshot: a single key-table version remains
    #    and it holds 18 rows
    kpath = cs.keys_path(base)
    assert len(txn_table._versions(kpath)) == 1
    assert txn_table.read(spark, kpath).count() == 18

    # 4) tombstones carry the blind index for read-side suppression
    tomb = txn_table.read(spark, cs.tombstones_path(base)).collect()
    assert {(r["user_id"], r["email_bidx"]) for r in tomb} == {(7, "bidx_7"), (13, "bidx_13")}

    # 5) read-side suppression removes ghosts from any consumer frame
    vis = cs.suppress_forgotten(spark, enc_disk, base)
    assert vis.count() == 18
    assert vis.filter(F.col("user_id").isin(7, 13)).count() == 0


def test_reprovision_cannot_open_old_ciphertext(spark, tmp_path):
    """Even the same authority re-granting the same user a key cannot
    recover pre-forget ciphertexts: the new random DEK fails AES-GCM
    authentication on the old tokens (try_aes_decrypt → NULL)."""
    base = str(tmp_path / "shred")
    kek = cs.test_kek()
    users = _users(spark, 5)
    cs.provision_deks(spark, base, users, kek)
    enc = cs.encrypt_fields(spark, users, base, kek, ["phone"]).cache()
    enc.count()

    cs.forget_users(spark, base, spark.createDataFrame([(3,)], ["user_id"]))
    cs.provision_deks(spark, base, users.filter("user_id = 3"), kek)

    dec = {r["user_id"]: r["phone"] for r in
           cs.decrypt_fields(spark, enc, base, kek, ["phone"]).collect()}
    assert dec[3] is None  # fresh DEK ⇒ GCM auth failure, not garbage
    assert dec[1] == "secret-payload-1"
    enc.unpersist()


def test_forget_unknown_user_is_noop(spark, tmp_path):
    base = str(tmp_path / "shred")
    kek = cs.test_kek()
    cs.provision_deks(spark, base, _users(spark, 4), kek)
    v0 = txn_table.current_version(cs.keys_path(base))
    res = cs.forget_users(spark, base, spark.createDataFrame([(99,)], ["user_id"]))
    assert res["n_forgotten"] == 0
    assert txn_table.current_version(cs.keys_path(base)) == v0
    assert txn_table.current_version(cs.tombstones_path(base)) is None


def test_provision_is_keep_first(spark, tmp_path):
    """Re-provisioning an existing user must NOT rotate the key —
    ciphertexts under the original DEK stay decryptable."""
    base = str(tmp_path / "shred")
    kek = cs.test_kek()
    users = _users(spark, 3)
    cs.provision_deks(spark, base, users, kek)
    enc = cs.encrypt_fields(spark, users, base, kek, ["phone"]).cache()
    enc.count()
    cs.provision_deks(spark, base, users, kek)  # keep-first: no-op
    dec = {r["user_id"]: r["phone"] for r in
           cs.decrypt_fields(spark, enc, base, kek, ["phone"]).collect()}
    assert dec == {1: "secret-payload-1", 2: "secret-payload-2", 3: "secret-payload-3"}
    enc.unpersist()


def test_forget_stream_crash_replay(spark, tmp_path):
    """Streaming right-to-be-forgotten with a PLANTED crash between
    the tombstone commit and the key delete: the restarted stream must
    finish the delete (replay-safe without a fence — keep-first
    tombstones, empty-semi-join delete no-op), and a replayed batch
    changes nothing. Decrypt-after-forget is NULL throughout."""
    import json as _json

    from data_ingestion_project_spark.streaming.ingest import start_forget_stream

    base = str(tmp_path / "shred")
    kek = cs.test_kek()
    users = _users(spark, 10)
    cs.provision_deks(spark, base, users, kek)
    enc = cs.encrypt_fields(spark, users, base, kek, ["phone"]).cache()
    enc.count()

    src = tmp_path / "forget_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def stream():
        return (
            spark.readStream.schema("user_id long")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    class Planted(RuntimeError):
        pass

    crashes = {"armed": True}

    def crash_hook(step):
        if step == "tombstones" and crashes["armed"]:
            crashes["armed"] = False
            raise Planted("planted crash after tombstones, before key delete")

    q = start_forget_stream(spark, stream(), base, ckpt, checkpoint_hook=crash_hook)
    (src / "b0.json").write_text(
        "\n".join(_json.dumps({"user_id": u}) for u in (3, 7))
    )
    import pytest as _pytest

    with _pytest.raises(Exception):
        q.processAllAvailable()
        q.awaitTermination()
    q.stop()

    # crash window state: tombstones landed, keys NOT yet deleted
    assert txn_table.read(spark, cs.tombstones_path(base)).count() == 2
    assert txn_table.read(spark, cs.keys_path(base)).count() == 10

    # restart without the hook: the batch replays and finishes the
    # delete; a second batch forgets one more user
    q2 = start_forget_stream(spark, stream(), base, ckpt)
    (src / "b1.json").write_text(_json.dumps({"user_id": 9}))
    q2.processAllAvailable()
    q2.stop()

    assert txn_table.read(spark, cs.keys_path(base)).count() == 7
    tomb = {r["user_id"] for r in txn_table.read(spark, cs.tombstones_path(base)).collect()}
    assert tomb == {3, 7, 9}
    assert len(txn_table._versions(cs.keys_path(base))) == 1  # vacuumed

    dec = {r["user_id"]: r["phone"] for r in
           cs.decrypt_fields(spark, enc, base, kek, ["phone"]).collect()}
    assert dec[3] is None and dec[7] is None and dec[9] is None
    assert dec[1] == "secret-payload-1" and dec[10] == "secret-payload-10"
    enc.unpersist()
