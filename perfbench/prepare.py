"""Build the state every measured run reads, once per program version.

Prepared state is the generated sf0.1 tables, the pre-seeded users
table (built by the program's own ``run_ingestion_job``) and the
``spark-warehouse/`` derived assets of those tables (built by
``queries.warm_derived_assets``). It is stamped with ``env.code_hash()``
and rebuilt from scratch when the stamp does not match, so no run ever
reads state another version of the code left behind.

Run as a script it builds unconditionally; ``ensure()`` builds in a
child process only when needed, so the build's JVM and JIT warm-up
never leak into the measuring process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402


def _stamp() -> dict | None:
    try:
        with open(env.STAMP) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def ensure() -> tuple[str, float]:
    """Return ``("reused" | "built", seconds spent building)``."""
    stamp = _stamp()
    if stamp is not None and stamp.get("code") == env.code_hash():
        return "reused", 0.0
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.abspath(__file__)], check=True, stdout=sys.stderr)
    return "built", time.perf_counter() - t0


def build() -> None:
    env.configure_process()
    from data_ingestion_project_spark.job import run_ingestion_job
    from data_ingestion_project_spark.operators.materialize import dataset_tag
    from data_ingestion_project_spark.queries import warm_derived_assets

    import tables
    import users

    shutil.rmtree(env.PREPARED, ignore_errors=True)
    warehouse = os.path.join(env.ROOT, "spark-warehouse")
    tag = dataset_tag(os.path.abspath(env.DATA_DIR))
    if os.path.isdir(warehouse):
        for name in os.listdir(warehouse):
            if tag in name:
                shutil.rmtree(os.path.join(warehouse, name))
    t0 = time.perf_counter()
    tables.write_tables(env.DATA_DIR, env.SF)
    spark = env.session("perfbench-prepare")
    try:
        seed_users = [users.make_user(env.TABLE_STREAM, i) for i in range(env.SEED_ROWS)]
        run_ingestion_job(spark, users.crypto_keys(env.TABLE_SEED), env.SEED_TABLE, users=seed_users)
        warm_derived_assets(spark, env.DATA_DIR)
    finally:
        env.stop(spark)
    with open(env.STAMP, "w") as f:
        json.dump({"code": env.code_hash(), "build_s": time.perf_counter() - t0}, f)
    print(f"# prepared state built in {time.perf_counter() - t0:.1f}s")


if __name__ == "__main__":
    build()
