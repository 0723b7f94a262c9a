"""Spark 4 Python DataSource for the paged users API.

The scale form of the users source, next to the driver-side parity
fetch (``users_json.py``, reference ``api_client.py:9-27``): a
first-class connector registered with ``spark.dataSource.register``,
so callers write

    spark.read.format("paged_users")
        .option("pages", "8").option("page_size", "10").load()

and get the standard source contract — schema discovery, planned
input partitions (one per page chunk → Spark schedules, retries, and
speculates fetch tasks like any scan), and executor-side I/O. The
fetcher (``paged_http.py``) is injected as a dotted import path
because DataSource options are strings and the reader is pickled to
executors; tests point it at the deterministic ``offline_fetcher``
and stay networkless. The page range lives in the source's partition
planning, so AQE statistics, task retry, and speculative execution
all see a real scan.
"""

from __future__ import annotations

import importlib
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from data_ingestion_project_spark.schemas import RAW_USER_SCHEMA

DEFAULT_FETCHER = "data_ingestion_project_spark.sources.paged_http.http_fetcher"


def _load_fetcher(path: str):
    mod, _, attr = path.rpartition(".")
    return getattr(importlib.import_module(mod), attr)


def _fetch_rows(fetcher_path: str, pages: range, page_size: int) -> Iterator[tuple]:
    """Fetch ``pages`` and yield schema-ordered tuples, with the
    unstable int-or-string postcode pinned to string (shared by the
    batch reader and the stream reader so the pinning cannot drift)."""
    fetcher = _load_fetcher(fetcher_path)
    names = RAW_USER_SCHEMA.fieldNames()
    for page in pages:
        for u in fetcher(page, page_size):
            loc = u.get("location") or {}
            if loc.get("postcode") is not None:
                # copy, never mutate the fetcher's dicts
                u = {**u, "location": {**loc, "postcode": str(loc["postcode"])}}
            yield tuple(u.get(n) for n in names)


class PagedUsersDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paged_users"

    def schema(self):
        return RAW_USER_SCHEMA

    def reader(self, schema) -> "PagedUsersReader":
        return PagedUsersReader(self.options)

    def simpleStreamReader(self, schema) -> "PagedUsersStreamReader":
        return PagedUsersStreamReader(self.options)


class PagedUsersReader(DataSourceReader):
    def __init__(self, options: dict[str, str]) -> None:
        self.n_pages = int(options.get("pages", "1"))
        self.page_size = int(options.get("page_size", "10"))
        self.pages_per_task = int(options.get("pages_per_task", "1"))
        self.fetcher_path = options.get("fetcher", DEFAULT_FETCHER)

    def partitions(self) -> list[InputPartition]:
        """One InputPartition per page chunk: Spark schedules a task
        per chunk, so retry/speculation granularity is the chunk, and
        parallelism is n_pages / pages_per_task without any synthetic
        range-DataFrame repartition."""
        step = max(self.pages_per_task, 1)
        return [
            InputPartition((lo, min(lo + step - 1, self.n_pages)))
            for lo in range(1, self.n_pages + 1, step)
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        lo, hi = partition.value
        yield from _fetch_rows(self.fetcher_path, range(lo, hi + 1), self.page_size)


class PagedUsersStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the connector: the page cursor IS the offset.

    Each micro-batch advances ``next_page`` by ``pages_per_batch``; a
    caught-up source returns empty batches with an unmoved offset.
    Offsets are plain JSON dicts, so the checkpoint log replays any
    committed range via ``readBetweenOffsets`` — the page fetch is
    deterministic per (page, size) (the same retry-safety contract the
    batch partitions rely on), which is exactly what makes the replay
    exactly-once instead of at-least-once.

    This is the cursor-paginated-API ingestion shape (the reference's
    source is one such API): at production scale the offset would be
    the API's real cursor token and ``pages`` the have-more probe;
    here the page range is bounded so tests drain the stream."""

    def __init__(self, options: dict[str, str]) -> None:
        self.n_pages = int(options.get("pages", "1"))
        self.page_size = int(options.get("page_size", "10"))
        self.pages_per_batch = int(options.get("pages_per_batch", "1"))
        self.fetcher_path = options.get("fetcher", DEFAULT_FETCHER)

    def initialOffset(self) -> dict:
        return {"next_page": 1}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = start["next_page"]
        hi = min(lo + self.pages_per_batch, self.n_pages + 1)
        # materialized list, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator for replay, and generators don't
        # copy. A batch is pages_per_batch x page_size rows — bounded.
        rows = list(_fetch_rows(self.fetcher_path, range(lo, hi), self.page_size))
        return (iter(rows), {"next_page": hi})

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(
            list(
                _fetch_rows(
                    self.fetcher_path,
                    range(start["next_page"], end["next_page"]),
                    self.page_size,
                )
            )
        )


def register(spark) -> None:
    """Idempotent registration: ``spark.read.format('paged_users')``."""
    spark.dataSource.register(PagedUsersDataSource)
