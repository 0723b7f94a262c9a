"""Ingestion job orchestration: source → secure transform → upsert →
metrics.

Re-expresses run_ingestion_job (job.py:18-95 in /root/reference) over
the Spark engine. The metrics dict carries the same keys
(job.py:73-79): http_status, retries_used, rows_fetched,
rows_after_dedup, plus the table path (csv_path key name kept for
contract parity even though the native table is parquet). The job has
one persistence path, the single-writer keep-first parquet append; the
multi-writer transaction-log table (operators/txn_table) is the
streaming sinks' store, not the job's.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from data_ingestion_project_spark.functions.crypto import CryptoKeys
from data_ingestion_project_spark.operators.transforms import transform_users
from data_ingestion_project_spark.operators.upsert import upsert_parquet_table
from data_ingestion_project_spark.sources.users_json import fetch_random_users, users_from_json

KEY_COLUMN = "login.uuid"


def run_ingestion_job(
    spark: SparkSession,
    keys: CryptoKeys,
    table_path: str,
    users: list[dict[str, Any]] | None = None,
    batch_size: int = 10,
    timeout: int = 15,
) -> dict[str, Any]:
    """One ingestion run. ``users=None`` fetches from the live API
    (reference behavior); tests inject a fixture payload instead. The
    batch persists through ``upsert_parquet_table``'s keep-first
    append (its module doc holds the publish contract).
    """
    http_status: int | None = None
    retries_used: int | None = None
    if users is None:
        users, resp = fetch_random_users(results=batch_size, timeout=timeout)
        http_status = resp.status_code
        # defensive getattr chain, mirroring job.py:52-54
        retries = getattr(getattr(resp, "raw", None), "retries", None)
        retries_used = getattr(retries, "total", None)

    rows_fetched = len(users)  # users_from_json builds one row per payload dict
    df_secure = transform_users(users_from_json(spark, users), keys)
    _, rows_after_dedup = upsert_parquet_table(spark, df_secure, table_path, key=KEY_COLUMN)

    return {
        "http_status": http_status,
        "retries_used": retries_used,
        "rows_fetched": rows_fetched,
        "rows_after_dedup": rows_after_dedup,
        "csv_path": table_path,
    }


def main(argv: list[str] | None = None) -> int:
    """CLI entry (``python -m data_ingestion_project_spark.job``) —
    the process the cron wrapper runs (reference job.py:99-110).
    Exit code 0 on success, 1 on failure; metrics printed to stdout
    for log scraping (reference job.py:85-95)."""
    import argparse
    import sys

    from data_ingestion_project_spark.functions.crypto import CryptoKeys, KdfProfile
    from data_ingestion_project_spark.session import build_session

    parser = argparse.ArgumentParser(description="Run one secure ingestion batch")
    parser.add_argument("--table-path", default="data/random_users.parquet")
    parser.add_argument("--batch-size", type=int, default=10)
    parser.add_argument("--timeout", type=int, default=15)
    parser.add_argument(
        "--kdf-profile", choices=["reference", "test"], default="reference",
        help="password-hash cost profile (reference = argon2id 3x64MiB parity)",
    )
    parser.add_argument(
        "--fixture-json", default=None,
        help="read the user batch from a JSON-lines file instead of the live API",
    )
    parser.add_argument(
        "--env-file", default=None,
        help="optional .env file with PEPPER/FERNET_KEY/BLIND_INDEX_KEY "
        "(reference crypto_utils.py:27 loads BASE_DIR/.env; default: use "
        "./.env when present, exported variables always win)",
    )
    args = parser.parse_args(argv)

    import os

    env_file = args.env_file
    if env_file is None and os.path.exists(".env"):
        env_file = ".env"

    profile = KdfProfile.reference() if args.kdf_profile == "reference" else KdfProfile.test()
    try:
        keys = CryptoKeys.from_env(profile=profile, env_file=env_file)
    except KeyError as e:  # fail-fast on missing key material (crypto_utils.py:34-44)
        print(f"FATAL: missing required environment key: {e}", file=sys.stderr)
        return 1
    users = None
    if args.fixture_json:
        import json

        with open(args.fixture_json) as f:
            users = [json.loads(line) for line in f if line.strip()]
    spark = build_session("ingestion-job")
    try:
        metrics = run_ingestion_job(
            spark, keys, args.table_path, users=users,
            batch_size=args.batch_size, timeout=args.timeout,
        )
    except Exception as e:
        print(f"FATAL: ingestion failed: {e}", file=sys.stderr)
        return 1
    print("INGESTION_METRICS")
    for k, v in metrics.items():
        print(f"  {k}: {v}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
