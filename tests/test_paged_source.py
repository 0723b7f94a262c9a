"""Paged users source: the Spark 4 Python DataSource, networkless
through the dotted-path ``paged_http.offline_fetcher``."""

from __future__ import annotations

OFFLINE_FETCHER = "data_ingestion_project_spark.sources.paged_http.offline_fetcher"


def test_paged_fetch_feeds_transform(spark, keys):
    """Paged rows feed the secure transform: every fetched user gets
    its own blind index."""
    from data_ingestion_project_spark.operators.transforms import transform_users
    from data_ingestion_project_spark.sources.users_datasource import register

    register(spark)
    df = (
        spark.read.format("paged_users")
        .option("pages", "2")
        .option("page_size", "3")
        .option("fetcher", OFFLINE_FETCHER)
        .load()
    )
    out = transform_users(df, keys)
    assert out.count() == 6
    assert len({r["email_bidx"] for r in out.collect()}) == 6


def test_python_datasource_paged_users(spark):
    """Spark 4 Python DataSource form: schema discovery, one planned
    InputPartition per page chunk, executor-side fetch through the
    dotted-path fetcher — full rows arrive with the pinned schema."""
    from data_ingestion_project_spark.sources.users_datasource import (
        PagedUsersReader,
        register,
    )

    register(spark)
    df = (
        spark.read.format("paged_users")
        .option("pages", "6")
        .option("page_size", "4")
        .option("pages_per_task", "2")
        .option("fetcher", OFFLINE_FETCHER)
        .load()
    )
    rows = df.collect()
    assert len(rows) == 24
    assert len({r["login"]["uuid"] for r in rows}) == 24
    assert df.schema["location"].dataType["postcode"].dataType.simpleString() == "string"
    assert {r["location"]["postcode"] for r in rows} == {"1000", "1001", "1002", "1003"}

    # partition planning: 6 pages / 2 per task = 3 scheduled chunks
    parts = PagedUsersReader(
        {"pages": "6", "page_size": "4", "pages_per_task": "2"}
    ).partitions()
    assert [p.value for p in parts] == [(1, 2), (3, 4), (5, 6)]


def test_python_datasource_feeds_transform(spark, keys):
    """The connector's output drops straight into the secure transform
    — proving it is a full substitute for the other two source forms."""
    from data_ingestion_project_spark.operators.transforms import transform_users
    from data_ingestion_project_spark.sources.users_datasource import register

    register(spark)
    df = (
        spark.read.format("paged_users")
        .option("pages", "2")
        .option("page_size", "3")
        .option("fetcher", OFFLINE_FETCHER)
        .load()
    )
    out = transform_users(df, keys)
    assert out.count() == 6
    assert "login.password" not in out.columns  # plaintext dropped


def test_python_datasource_streaming_pages(spark, tmp_path):
    """The streaming form of the connector: the page cursor is the
    offset; micro-batches advance it by pages_per_batch until the
    bounded range drains. Every row arrives exactly once with the
    pinned schema."""
    import time

    from data_ingestion_project_spark.sources.users_datasource import register

    register(spark)
    stream = (
        spark.readStream.format("paged_users")
        .option("pages", "4")
        .option("page_size", "3")
        .option("pages_per_batch", "2")
        .option("fetcher", OFFLINE_FETCHER)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("paged_users_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("paged_users_stream").count() >= 12:
                break
            time.sleep(0.5)
        rows = spark.table("paged_users_stream").collect()
    finally:
        q.stop()
    assert len(rows) == 12  # 4 pages x 3 users, no dupes, nothing lost
    assert len({r["login"]["uuid"] for r in rows}) == 12
    assert all(isinstance(r["location"]["postcode"], str) for r in rows)
