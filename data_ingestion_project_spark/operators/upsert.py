"""Keep-first upsert: the reference's persistence operator (U2/D1).

Reference semantics (reference io_utils.py:16-39): read the full
table, append the new batch, drop duplicate keys keeping the FIRST
occurrence — because existing rows precede new rows in the concat,
**existing rows win** and re-ingested keys are discarded.

Spark mapping (SURVEY.md §2 D1 decision): NOT ``dropDuplicates`` over
table + batch (keeps an arbitrary row per key — silently diverges).
The faithful, scale-correct form is *insert-if-absent*:

    new_only = new.dropDuplicates(key).join(existing_keys, key, "left_anti")

which is exactly Delta's ``MERGE WHEN NOT MATCHED THEN INSERT``
(:func:`keep_first_new_rows`, the one place the rule lives).

Keep-first never changes an existing row, so a batch never rewrites
the table. The publish contract of :func:`upsert_parquet_table`:

- the batch's new rows are written as ONE parquet file into a sibling
  temp directory, then moved into the table directory with one
  ``os.rename``: a reader sees the table without the batch or with all
  of it, and the table path never goes missing. The first batch
  creates the table by renaming the whole temp directory into place;
- a batch with no new rows publishes nothing; a failed write removes
  its temp directory and publishes nothing;
- a batch whose column names or types differ from the table's footer
  schema raises before anything is written;
- one file per batch makes every scan of the table open one more
  file, so once a publish takes the table past ``MAX_TABLE_FILES``
  files, ``layout.compact_parquet`` rewrites it into ~256 MB files
  through :func:`atomic_dir_swap` — the only step left that rewrites
  the table, and the only one with the swap's two-rename window. A
  crash inside that window leaves the table at its ``__old_`` sibling;
  the next read finds no table there and renames the sibling back
  (:func:`read_table_if_exists`).

The table is single-writer (the ingestion job is single-flight by the
run_ingestion.sh lock). Multiple producers need the transaction-log
table (operators/txn_table), whose ``merge_upsert`` applies the same
keep-first rule with conflict retry — and rewrites the whole table on
every commit.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# A publish past this many data files compacts the table: every scan
# pays a file open, a footer read and a task-packing share per file,
# and one file per cron batch would otherwise grow that without bound.
# At 64 a 10-row cron batch compacts once per ~64 runs, so the full
# rewrite the reference paid on every batch is paid 1/64 as often.
MAX_TABLE_FILES = 64


def keep_first_new_rows(new_rows: DataFrame, existing: DataFrame | None, key: str) -> DataFrame:
    """The keep-first rule: ``new_rows`` deduplicated on ``key``, minus
    every key ``existing`` already holds. In-batch dedup keeps any one
    row per key — within one fetched batch keys are unique; cross-batch
    precedence is what matters and the anti-join enforces it."""
    kcol = F.col(f"`{key}`")  # backticks: key may be a dotted flat name
    new_rows = new_rows.dropDuplicates([key])
    if existing is None:
        return new_rows
    existing_keys = existing.select(kcol.alias("__existing_key"))
    # No broadcast hint: the anti-join's build side is the EXISTING key
    # set, which grows without bound — forcing it to broadcast would OOM
    # the driver exactly at scale. AQE broadcasts it while it is small
    # and switches to a shuffled anti-join once it isn't.
    # eqNullSafe: with a plain ==, a null key on both sides compares to
    # NULL -> "not matched" -> the null-key row re-inserts on EVERY run,
    # breaking idempotence. The transform null-gates the key, this is
    # defense in depth for tables written by other producers.
    return new_rows.join(existing_keys, kcol.eqNullSafe(F.col("__existing_key")), "left_anti")


def upsert_keep_first(existing: DataFrame | None, new_rows: DataFrame, key: str) -> DataFrame:
    """Insert-if-absent as a whole table: existing rows win, new keys
    are appended (the reference's concat + keep-first dedup)."""
    new_only = keep_first_new_rows(new_rows, existing, key)
    return new_only if existing is None else existing.unionByName(new_only)


@contextlib.contextmanager
def _sibling_tmp(path: str):
    """A fresh ``<path>__tmp_<hex>`` name on the table's filesystem (so
    renames out of it are atomic), removed on exit whether the write in
    it succeeded, was published or failed."""
    tmp = f"{path}__tmp_{_uuid.uuid4().hex[:8]}"
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def atomic_dir_swap(path: str, write_to_tmp) -> None:
    """Replace the directory at ``path`` with what ``write_to_tmp(tmp)``
    writes: a sibling temp write, then two renames, restoring the old
    directory if the second fails. Readers never observe a PARTIAL
    table, but between the renames the path briefly does not exist.
    The one implementation of a plain-directory overwrite
    (layout.compact_parquet uses it), so crash-recovery fixes cannot
    drift between call sites."""
    with _sibling_tmp(path) as tmp:
        write_to_tmp(tmp)
        old = f"{path}__old_{_uuid.uuid4().hex[:8]}"
        if os.path.exists(path):
            os.rename(path, old)
        try:
            os.rename(tmp, path)
        except BaseException:
            if os.path.exists(old) and not os.path.exists(path):
                os.rename(old, path)  # restore the previous table
            raise
    if os.path.exists(old):
        shutil.rmtree(old)


def _data_files(path: str) -> list[str]:
    """The table's parquet files, as Spark lists them (names starting
    with ``_`` or ``.`` are metadata and checksums)."""
    return sorted(
        os.path.join(path, name)
        for name in os.listdir(path)
        if name.endswith(".parquet") and not name.startswith(("_", "."))
    )


def _check_schema(schema: StructType, footer_schema, path: str) -> None:
    """Refuse a batch whose column names or types differ from the
    table's: an append must never leave mixed-schema files. Names and
    types only — nullability differs freely between DataFrames and
    parquet round-trips (the rule of txn_table's appends)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    table = from_arrow_schema(footer_schema)
    if [(f.name, f.dataType) for f in schema.fields] != [(f.name, f.dataType) for f in table.fields]:
        raise ValueError(
            f"batch schema {schema.simpleString()} differs from the schema "
            f"{table.simpleString()} of the table at {path}"
        )


def read_table_if_exists(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame | None:
    """The table at ``path``, or ``None`` if there is none. A given
    ``schema`` skips the schema-inference job of a plain read.

    With nothing at ``path`` and exactly one ``<path>__old_<hex>``
    sibling, a crash cut :func:`atomic_dir_swap` between its two
    renames and that sibling is the whole previous table: it is renamed
    back before reading. The check runs only when ``path`` is missing."""
    if not os.path.exists(path):
        stranded = glob.glob(f"{glob.escape(path)}__old_*")
        if len(stranded) != 1:
            return None
        os.rename(stranded[0], path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def upsert_parquet_table(
    spark: SparkSession, new_rows: DataFrame, path: str, key: str
) -> tuple[DataFrame, int]:
    """Keep-first upsert of ``new_rows`` into the parquet table at
    ``path``, published as one appended file (module doc: the contract).

    Returns (the table as a lazy read, row count after the upsert). The
    count is the existing rows from parquet footers plus the rows the
    write observed — no count job and no scan of the table beyond its
    key column. The batch is not cached: its nondeterministic crypto
    columns run once, inside the write's job, and the deduplication
    shuffle keeps them parallel ahead of the one-file stage.
    """
    import pyarrow.parquet as pq
    from pyspark.sql import Observation

    existing = read_table_if_exists(spark, path, new_rows.schema)
    footers = [pq.read_metadata(f) for f in ([] if existing is None else _data_files(path))]
    if footers:
        _check_schema(new_rows.schema, footers[0].schema.to_arrow_schema(), path)
    obs = Observation("upsert_metrics")
    new_only = keep_first_new_rows(new_rows, existing, key).observe(obs, F.count(F.lit(1)).alias("rows"))
    with _sibling_tmp(path) as tmp:
        new_only.coalesce(1).write.parquet(tmp)
        inserted = int(obs.get["rows"])
        if existing is None:
            os.rename(tmp, path)
        elif inserted:
            (written,) = _data_files(tmp)
            os.rename(written, os.path.join(path, os.path.basename(written)))
    if len(_data_files(path)) > MAX_TABLE_FILES:
        from data_ingestion_project_spark.operators.layout import compact_parquet

        compact_parquet(spark, path)
    return spark.read.schema(new_rows.schema).parquet(path), sum(m.num_rows for m in footers) + inserted


def write_csv_parity(df: DataFrame, path: str, columns: tuple[str, ...]) -> None:
    """Single-file CSV export matching the reference's sink
    (io_utils.py:37): header, no index, fixed column order. Parity/
    export mode only — the native table format is parquet."""
    df.select(*[F.col(f"`{c}`") for c in columns]).toPandas().to_csv(path, index=False)
