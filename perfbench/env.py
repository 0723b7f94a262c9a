"""Paths, process environment and the Spark session the benchmark uses.

Everything the benchmark writes lives under ``perfbench/.work`` of the
checkout it runs in (plus the package's own ``spark-warehouse/``
assets): Spark's local dirs, the JVM's and Python's temp dirs, the
prepared state, per-run tables and traces.
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "data_ingestion_project_spark")
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
PREPARED = os.path.join(WORK, "prepared")
DATA_DIR = os.path.join(PREPARED, "sf0.1")
SEED_TABLE = os.path.join(PREPARED, "users_seed.parquet")
STAMP = os.path.join(PREPARED, "stamp.json")

SF = 0.1
# stream and key seed of the prepared users table; the run's own
# --seed drives the batches sent into it
TABLE_SEED = 0
SEED_ROWS = 20_000
TABLE_STREAM = f"table:{TABLE_SEED}"


def configure_process() -> None:
    """Point temp files at the checkout and make the package importable
    by this process and by the Python workers Spark starts."""
    os.makedirs(os.path.join(TMP, "spark"), exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP, "spark")
    # the JVM that computes the spark-submit command; -UsePerfData keeps
    # both JVMs from writing /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # local[nproc]: the cores this process may run on
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = TMP


def session(app: str):
    """``session.build_session`` on ``local[nproc]`` with temp dirs in the checkout."""
    from data_ingestion_project_spark.session import build_session

    java_opts = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    spark = build_session(app, extra_conf={"spark.driver.extraJavaOptions": java_opts})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def code_hash() -> str:
    """Digest of the program and of the benchmark code that prepares
    state, so prepared state is rebuilt whenever either changes."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, f) for f in ("env.py", "prepare.py", "tables.py", "users.py")]
    for base, dirs, names in os.walk(PACKAGE):
        dirs.sort()
        files += [os.path.join(base, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def stop(spark) -> None:
    """Stop the session and end its JVM (and with it the Python workers),
    waiting until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
