"""HTTP trigger service — parity with the reference's FastAPI layer
(api_server.py:1-41 in /root/reference): GET /health, POST
/jobs/ingestion (fire-and-forget), POST /jobs/ingestion/sync
(returns metrics), GET /hello — over a shared long-lived
SparkSession.

FastAPI is optional in this environment; the module degrades to an
importable stub exposing the same handler functions so the routing
contract stays testable without the framework.
"""

from __future__ import annotations

import os
from typing import Any

from data_ingestion_project_spark.functions.crypto import CryptoKeys
from data_ingestion_project_spark.job import run_ingestion_job
from data_ingestion_project_spark.operators.materialize import pin_scope
from data_ingestion_project_spark.session import build_session

TABLE_PATH = os.environ.get("USERS_TABLE_PATH", "data/random_users.parquet")

_spark = None
_keys: CryptoKeys | None = None


def _resources():
    """Key material fails fast exactly like the CLI (job.py): serving
    ingestion with ephemeral or weak-profile keys would write tables
    whose ciphertexts die with the process. Tests may opt in explicitly
    via ALLOW_TEST_KEYS=1."""
    global _keys
    _spark_session()
    if _keys is None:
        from data_ingestion_project_spark.functions.crypto import KdfProfile

        if os.environ.get("ALLOW_TEST_KEYS") == "1":
            _keys = CryptoKeys.for_tests()
        else:
            # raises KeyError on missing PEPPER/FERNET_KEY/BLIND_INDEX_KEY
            _keys = CryptoKeys.from_env(profile=KdfProfile.reference())
    return _spark, _keys


def health() -> dict[str, str]:
    return {"status": "ok"}


def hello() -> dict[str, str]:
    return {"message": "Data ingestion service is running"}


def run_job_sync() -> dict[str, Any]:
    spark, keys = _resources()
    metrics = run_ingestion_job(spark, keys, TABLE_PATH)
    return {"status": "completed", "metrics": metrics}


def run_job_background() -> dict[str, str]:
    return {"status": "queued"}


# ----------------------------- analytics surface (beyond reference parity)

DEFAULT_SF_DIR = os.environ.get("ANALYTICS_SF_DIR", "/root/testdata/sf0.01")
MAX_ROWS = 1000  # HTTP responses are for inspection; exports go via the CLI


def list_queries() -> dict[str, Any]:
    """Inventory endpoint: every declared query plus whether it is
    oracle-backed (same registry the driver contract exposes)."""
    from data_ingestion_project_spark.queries import all_oracles, all_queries

    oracles = all_oracles()
    return {
        "queries": [
            {"name": n, "oracle": n in oracles} for n in all_queries()
        ]
    }


DATA_ROOT = os.environ.get("ANALYTICS_DATA_ROOT", "/root/testdata")


def _validated_sf_dir(sf_dir: str | None) -> str | None:
    """Confine the HTTP-supplied data directory to DATA_ROOT: the
    parameter feeds spark.read paths, and an unvalidated value would
    let any remote caller read arbitrary server-side parquet (staged
    txn data, other tenants' tables) over an unauthenticated route.
    Returns None when the path escapes the root."""
    resolved = os.path.realpath(sf_dir or DEFAULT_SF_DIR)
    root = os.path.realpath(DATA_ROOT)
    return resolved if resolved == root or resolved.startswith(root + os.sep) else None


def run_query(name: str, sf_dir: str | None = None, limit: int = 100) -> dict[str, Any]:
    """Execute one declared query and return its rows as JSON.

    ``limit`` caps the response (hard ceiling MAX_ROWS — an HTTP
    endpoint must never stream an unbounded result); unknown names
    and out-of-root ``sf_dir`` values return an error payload instead
    of raising, so the route maps them to 4xx and the handler stays
    framework-free."""
    from data_ingestion_project_spark.queries import all_queries

    queries = all_queries()
    if name not in queries:
        return {"error": f"unknown query {name!r}", "status": 404}
    safe_dir = _validated_sf_dir(sf_dir)
    if safe_dir is None:
        return {"error": f"sf_dir outside {DATA_ROOT!r}", "status": 403}
    spark = _spark_session()
    with pin_scope():
        df = queries[name](spark, safe_dir)
        rows = df.limit(max(1, min(limit, MAX_ROWS))).toPandas()
    return {
        "name": name,
        "columns": list(rows.columns),
        "n_rows": len(rows),
        "rows": rows.astype(object).where(rows.notna(), None).to_dict("records"),
    }


def _spark_session():
    """Shared lazy session — analytics needs it WITHOUT key material
    (reading public tables must not fail on missing crypto env);
    _resources layers the fail-fast keys on top of this."""
    global _spark
    if _spark is None:
        _spark = build_session("ingestion-api")
    return _spark


try:
    from fastapi import BackgroundTasks, FastAPI

    app = FastAPI(title="data-ingestion-project-spark")

    @app.get("/health")
    def _health() -> dict[str, str]:
        return health()

    @app.post("/jobs/ingestion")
    def _trigger(background_tasks: BackgroundTasks) -> dict[str, str]:
        # fire-and-forget on the threadpool after the response, exactly
        # like the reference (api_server.py:18-26)
        background_tasks.add_task(run_job_sync)
        return run_job_background()

    @app.post("/jobs/ingestion/sync")
    def _trigger_sync() -> dict[str, Any]:
        return run_job_sync()

    @app.get("/hello")
    def _hello() -> dict[str, str]:
        return hello()

    @app.get("/queries")
    def _queries() -> dict[str, Any]:
        return list_queries()

    @app.post("/queries/{name}")
    def _run_query(name: str, sf_dir: str | None = None, limit: int = 100):
        result = run_query(name, sf_dir=sf_dir, limit=limit)
        if isinstance(result.get("status"), int) and result["status"] >= 400:
            from fastapi import HTTPException

            raise HTTPException(status_code=result["status"], detail=result["error"])
        return result

except ImportError:  # environment without fastapi: handlers above remain usable
    app = None
